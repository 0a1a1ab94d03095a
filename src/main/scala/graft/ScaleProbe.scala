package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Graph, Materialize, Similarity, TextStats}

/** Scale-linearity probe: replicates the corpora N× ([[GenScale]]'s
  * replicators) and times the most shuffle-intensive pipelines at each
  * N. Near-linear wall-time growth is the measurable form of the "no
  * quadratic blowup, keyed shuffles only" claims the operator
  * scaladocs make. Integer args are factors (default 1 4 10); any
  * other arg selects a case by name (default: all). Run:
  *   SPARK_GRAFT_SF_DIR=... sbt 'runMain graft.ScaleProbe 1 4 10 [case...]'
  *
  * Every case runs the same way: its corpora are replicated and
  * localCheckpointed OUTSIDE the timed region, the body is timed, and
  * every block is released before the next case ([[Bench.timed]]). One
  * JSON row per (factor, case): sec, rows (the case's row count or
  * consumed aggregate) and parts — the post-run
  * `spark.sql.shuffle.partitions`, i.e. the layout the Materialize
  * seam ratchet chose for this case before release.
  *
  * The embeddings corpus replicates by a per-copy deterministic ±1
  * SIGN-FLIP diagonal ([[GenScale.replicatedEmb]]: within-copy
  * geometry exactly preserved, cross-copy cosines decorrelated toward
  * 0, so the true pair structure is linear in N by construction; the
  * fixed LSH hyperplanes see per-copy bucket patterns, so copies spread
  * across buckets instead of stacking in them). Note the expected
  * shapes differ by design:
  *   - dd9 (SimHash bands): 2^15 values per band — buckets stay tiny,
  *     expect ~linear TIME. The verified PAIR count is superlinear in
  *     this corpus and that is a data property, not candidate blowup:
  *     classifying the factor-10 pairs by copy shows ZERO cross-copy
  *     pairs (salted token hashes make cross-copy signatures
  *     independent; P(Hamming ≤ 3) ≈ 2^-45) — but the templated text
  *     piles pair Hamming distances right at the radius, so each
  *     copy's salt re-rolls the boundary mass (measured 185k–922k
  *     pairs per copy at sf0.1, a 5× per-salt spread).
  *   - sim3 (IVF): sample-capped training + linear assignment + probe
  *     of nprobe/ncells of the corpus — expect ~linear.
  *   - sim4 (kNN graph): the plane count SELF-SIZES as
  *     Planes ∝ log₂(corpus) (Similarity.planesFor), holding expected
  *     per-bucket population ~constant — the r5 curve's ~N² bend at a
  *     fixed 2^8 buckets is the shape this sizing removes; the probe
  *     records the sized curve.
  */
object ScaleProbe {

  type Replica = (SparkSession, String, Int) => DataFrame

  /** A named case: the corpora it reads (each replicated N× and
    * checkpointed before timing) and the timed body over them. */
  final case class Case(name: String, corpora: Seq[Replica])(
      val body: Seq[DataFrame] => Long)

  private def on(name: String, corpus: Replica)(body: DataFrame => Long) =
    Case(name, Seq(corpus))(dfs => body(dfs.head))

  private val docs: Replica = GenScale.replicated
  private val emb: Replica = GenScale.replicatedEmb
  private val events: Replica = GenScale.replicatedEvents
  private val orders: Replica = GenScale.replicatedOrders

  /** First column of a one-row aggregate — the consumed-column probes
    * aggregate over the expensive output so pruning can't drop it. */
  private def first(df: DataFrame, aggs: Column*): Long =
    df.agg(aggs.head, aggs.tail: _*).collect()(0).getLong(0)

  private def lshEdges(d: DataFrame): DataFrame =
    Dedup.minhashLshPairs(d, "doc_id", "text", 0.1)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))

  val cases: Seq[Case] = Seq(
    on("lsh", docs)(Dedup.minhashLshPairs(_, "doc_id", "text", 0.1).count()),
    on("cluster", docs)(d => Dedup.labelPropagation(lshEdges(d)).count()),
    on("pack", docs) { d =>
      val toks = d.select(col("doc_id"),
        size(TextStats.words(col("text"))).cast("long").as("n_tokens"))
      graft.ops.PrefixSum.exclusive(toks, "doc_id", "n_tokens",
        d.sparkSession.sparkContext.defaultParallelism).count()
    },
    on("simhash", docs)(Dedup.simhashPairsOf(_).count()),
    // a bare count() lets column pruning DROP the reassembly (the
    // collect_list/array_sort kept_text is the expensive half) — the
    // probe aggregates over kept_text so the full operator runs
    on("dfprune", docs)(d => first(TextStats.dfPruneOf(d),
      count(lit(1)), sum(length(col("kept_text"))))),
    // the eval set grows with n here (salted copies shingle-disjoint),
    // so this measures the corpus-side probe stream against a bitmap
    // whose fill also grows — the conservative direction
    on("bloom", docs)(d => first(graft.ops.Sketch.bloomDecontaminateOf(d),
      count(lit(1)), sum(col("n_bloom_hits")))),
    // exact Jaccard: salted copies are shingle-disjoint, so the
    // inverted index's Σ df² candidate volume grows linearly in n —
    // the curve that evidences the all-pairs → inverted-index rewrite
    on("jaccard", docs)(Dedup.ngramJaccardPairsOf(_).count()),
    on("ivf", emb)(Similarity.ivfTopKOf(_,
      trainCap = Similarity.IvfTrainCap).count()),
    on("knn", emb)(Similarity.knnGraphOf(_).count()),
    // dd5: banded sign-LSH near-dup pairs; the derived geometry
    // (bands × per-band planes) self-sizes from the corpus count
    // (Dedup.embBandPlanesFor), so per-band buckets grow as
    // 2^planes ∝ n, holding Σ bucket² candidate volume ~linear. The
    // builder's internal count scans the LOCALCHECKPOINTED blocks, not
    // the replication transform — cheap, and deliberately uncached
    // (Materialize.cachedCount skips LogicalRDD-rooted plans)
    on("neardup", emb)(Dedup.embeddingNearDupOf(_).count()),
    // j4: anti-join MERGE on replicated orders — both sides of the
    // upsert grow linearly; the join is keyed (no broadcast of the
    // growing side at scale is the claim under test)
    on("merge", orders)(graft.merge.Upsert.mergeOrdersOf(_).count()),
    // j6b: bucketed as-of with the key domain held at 150 (the
    // driver query's shape), so per-(key, bucket) groups grow
    // linearly in n — the hot-key direction the bucketed two-phase
    // carry exists to bound; the aggregate consumes the carried
    // payload so column pruning can't drop phase 2
    Case("asof", Seq(events, orders)) { case Seq(ev6, ord6) =>
      val ev = ev6.select((col("user_id") % 150).as("k"),
        date_trunc("second", col("ts")).as("t"), col("event_id"))
      val o = ord6
        .select((col("o_custkey") % 150).as("k"),
          col("o_orderdate").as("t"), col("o_orderkey"))
        .groupBy("k", "t").agg(max("o_orderkey").as("o_orderkey"))
      first(graft.ops.AsOf.asofLeftBucketed(ev, o, "o_orderkey")(
          t => floor(unix_timestamp(t) / 86400L).cast("long")),
        count(lit(1)), sum(col("asof_o_orderkey")))
    },
    // dd10: salted copies share zero grams, so both the Σ df²
    // candidate volume on the anchor hash and the true span set grow
    // linearly in n — superlinear time here would mean the anchor df
    // head is quadratic, the failure the df-cap mitigation would fix
    on("span", docs)(Dedup.duplicateSpansOf(_).count()),
    // tx18: the first-occurrence window partitions by segment text;
    // salted copies make segments copy-disjoint, so partition count
    // grows ∝ n with bounded partition size — the aggregate consumes
    // kept_text so pruning can't drop the reassembly half
    on("segdedup", docs)(d => first(TextStats.segmentDedupOf(d),
      sum(col("n_kept")), sum(length(col("kept_text"))))),
    // g1: kNN build (the sim4 probe's cost) + 5 fixed integer
    // rounds, each a keyed join + keyed agg over node-sized tables —
    // the incremental cost over sim4 should stay a small constant
    // factor at every scale
    on("pagerank", emb)(Similarity.knnPagerankOf(_).count()),
    // g2: kNN build + the compact-forward wedge join. Degree-ordered
    // orientation bounds every out-degree by O(sqrt(m)), so wedge
    // volume tracks edge count; sign-flipped copies keep kNN edges
    // within copies, so Σ triangles is linear by construction — a
    // superlinear time curve here would mean the orientation failed
    // to tame a hub. The aggregate consumes the triangle column so
    // pruning can't drop the wedge join.
    on("tri", emb)(e => first(Graph.knnTrianglesOf(e), sum(col("triangles")))),
    // w6: ONE shuffle on user_id with the user domain fixed, so
    // per-user sorted lists grow ∝ n — the hot-key direction for the
    // sort_array fold; time should stay ~linear (sort is n log n in
    // the per-user list, lists are replication-bounded)
    on("funnel", events)(e =>
      first(graft.model.Analytics.funnelOf(e), sum(col("users")))),
    // dd13: dd10's span table + a per-doc interval merge — the merge
    // window partitions by doc_id (bounded groups), so the curve
    // should track dd10's span curve; the aggregate consumes
    // dup_tokens so the merge half can't be pruned away
    on("coverage", docs)(d => first(Dedup.duplicateCoverageOf(d),
      count(lit(1)), sum(col("dup_tokens")))),
    // tx22: the (source, shingle) distinct grows ∝ n; after the
    // distinct the per-hash fanout is bounded by the FIXED source
    // count, so candidate rows also grow ∝ n — the pair matrix
    // itself stays sources², constant
    on("srcoverlap", docs)(d => first(TextStats.sourceOverlapOf(d),
      count(lit(1)), sum(col("shared")))),
    // tx25: salted copies are shingle-disjoint, so the
    // first-occurrence aggregation's key space grows ∝ n with
    // per-shingle df unchanged; output rows are exactly the docs —
    // the aggregate consumes n_novel so the join-back can't prune
    on("novelty", docs)(d => first(TextStats.ngramNoveltyOf(d),
      sum(col("n_novel")), count(lit(1)))),
    // w7: user domain fixed → per-user event lists grow ∝ n (the
    // hot-key direction for the lead window); the transition matrix
    // stays O(types²) so only the window stage scales
    on("markov", events)(e =>
      first(graft.model.Analytics.markovTransitionsOf(e), sum(col("n")))),
    // q21a: fresh orderkeys per copy keep each order's supplier set
    // intact, so returned rows, the distinct (order, supplier) table
    // and the semi/anti probe volumes all grow ∝ n with per-orderkey
    // fanout unchanged — superlinear time would mean the <> conjunct
    // degraded the keyed joins
    // (the supplier dim is read once, not replicated)
    Case("blame", Seq(GenScale.replicatedLineitem,
        (s, d, _) => Tables.supplier(s, d))) { case Seq(li, supp) =>
      first(graft.model.Pricing.soleBlameOf(li, supp), sum(col("numwait")))
    },
    // kmv1: the (source, hash) distinct grows ∝ n (copies are
    // shingle-disjoint); the bucket-cutoff prefilter keeps the
    // per-source top-k sort input ~constant, and the pair stage is
    // sources² regardless of n — so the curve should track the
    // distinct alone
    on("kmv", docs)(d => first(graft.ops.Sketch.kmvSetOpsOf(d),
      count(lit(1)), sum(col("n_common")))),
    // tx30: every stage is a doc-keyed window or (doc, pos) join
    // over per-copy-bounded documents — the merge-application round
    // must stay linear for BPE training to be viable at corpus scale
    on("bpe", docs)(d =>
      first(TextStats.bpeMergeRoundOf(d), sum(col("n_occurrences")))),
    // sim8: training collects only PqSub × codes × subdim stats per
    // round; encoding + ADC is one projection + broadcast lookups, so
    // the curve should be ~linear in the corpus with a fixed offset
    on("pq", emb)(Similarity.pqTopKOf(_).count()),
    // rl1: the FastSS blocking keys inherit the near-unique low
    // digits, so candidates and links must both grow ∝ n (copies
    // shift keys by 11M — see GenScale.replicatedCustomer — so the
    // true link structure is per-copy by construction). The pre-fix
    // left-half blocking measured 21 s at 1× — this curve guards the
    // rewrite.
    on("rl", GenScale.replicatedCustomer)(
      graft.ops.Linkage.recordLinkageOf(_).count()),
    // g7: kNN build + ≤6 BFS rounds of frontier join + min-struct
    // agg. Sign-flipped copies keep edges within copies and each
    // copy carries its own ∝ n/97 seed slice, so reached counts grow
    // ∝ n; rounds are diameter-capped, so the curve should track
    // sim4's build plus a flat per-round keyed-join cost — the probe
    // consumes dist so the propagation stages can't prune away
    on("bfs", emb)(e => first(Graph.bfsLandmarksOf(e),
      sum(col("reached")), sum(col("dist")))),
    // g12 landmark centrality (multi-landmark BFS with per-round
    // materialization + early exit) and g13 PageRank residual rounds:
    // each round is a keyed frontier/rank join against the
    // materialized symmetric edge table; the question at 10×/40× is
    // whether rounds × per-round materialization stays ~linear in
    // edges, and where pre-bucketing the edge table would start to pay
    on("g12", emb)(Graph.landmarkCentralityOf(_).count()),
    on("g13", emb) { e =>
      val edges = Materialize(Similarity.knnGraphOf(e).select("src", "dst"),
        Materialize.Local, "probe_g13_edges")
      Similarity.pagerankResidualsOf(
        edges, e.select("vec_id"), Similarity.PrIters).count()
    },
    // ord2: one PrefixSum pass over the bucket-major key — per-
    // partition windows + O(partitions) driver offsets — so the
    // curve should track the corpus linearly at any bucket skew
    // (salted copies keep n_chars, so bucket POPULATIONS grow ∝ n
    // while the bucket count stays fixed: the exact hot-key shape a
    // per-bucket window would die on). The aggregate consumes
    // schedule_key so pruning can't drop the rank machinery.
    on("curriculum", docs)(d => first(graft.ops.Sampling.curriculumOrderOf(d,
        d.sparkSession.sparkContext.defaultParallelism),
      max(col("schedule_key")), count(lit(1)))),
    // dd4 under a GLOBAL hot shingle: the same unsalted 3-token
    // footer on every doc of every copy gives ONE shingle df = full
    // corpus — the Σdf² detonation the PPJoin prefix filter exists
    // to absorb (the unfiltered index would grow ∝ (n·docs)² on this
    // corpus). The footer is deliberately SHORT: its solo Jaccard
    // contribution 1/(n_a+n_b-1) < 1/10 for every pair, so the true
    // pair structure stays the salted copies' linear one and output
    // size cannot explain a superlinear bend. (A longer footer makes
    // short-doc pairs genuinely qualify and the quadratic OUTPUT
    // drowns the signal — measured 409k→39.6M pairs at 1×→10× with a
    // 10-token footer.)
    on("jacboiler", (s, d, n) => GenScale.replicated(s, d, n)
      .withColumn("text", concat(col("text"), lit(" all rights reserved"))))(
      Dedup.ngramJaccardPairsOf(_).count()),
    // the DISTRIBUTED pointer-jumping connected-components path,
    // forced past the driver union-find switch (localThreshold=0):
    // per-copy-disjoint LSH pair graphs keep components and diameter
    // per-copy-bounded, so rounds stay O(log d) = constant across
    // factors and the curve should be ~linear in edges — the measured
    // form of the warehouse-scale claim dd7/dd8 ride on.
    on("distcc", docs)(d =>
      Dedup.labelPropagation(lshEdges(d), localThreshold = 0L).count()))

  /** Runs one case at factor `n`: (sec, rows, post-run shuffle
    * partitions). Every block is released before it returns. */
  def run(spark: SparkSession, sfDir: String, n: Int,
      c: Case): (Double, Long, String) = {
    val inputs = c.corpora.map(_(spark, sfDir, n).localCheckpoint(true))
    val (sec, (rows, parts)) = Bench.timed(spark) {
      (c.body(inputs), spark.conf.get("spark.sql.shuffle.partitions"))
    }
    (sec, rows, parts)
  }

  def main(args: Array[String]): Unit = {
    val (ints, names) = args.toSeq.partition(_.forall(_.isDigit))
    val factors = if (ints.nonEmpty) ints.map(_.toInt) else Seq(1, 4, 10)
    val unknown = names.filterNot(cases.map(_.name).toSet)
    require(unknown.isEmpty, s"unknown cases: ${unknown.mkString(", ")}")
    val selected = if (names.isEmpty) cases else cases.filter(c => names.contains(c.name))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    for (n <- factors; c <- selected) {
      val (sec, rows, parts) = run(spark, sfDir, n, c)
      println(f"""{"factor":$n,"case":"${c.name}","sec":$sec%.2f,""" +
        f""""rows":$rows,"parts":$parts}""")
    }
    spark.stop()
  }
}
