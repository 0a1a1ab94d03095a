package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The replicated-corpus data module: the N× replicators [[ScaleProbe]]
  * times its cases on, and the sf1 tier generator built from them.
  *
  * As a main it scales a generated SF directory N× into a new
  * parquet directory with FK-CONSISTENT key offsets, so the full
  * correctness gate (Verify + DuckDB oracle) and Bench run unmodified
  * at 10× the largest shipped SF — the tier that catches superlinear
  * queries an sf0.1 sweep hides. Run:
  *   sbt 'runMain graft.GenScale /root/testdata/sf0.1 target/sf1 10'
  *
  * Key strides keep every foreign key inside its copied dimension:
  * copy i's orders reference copy i's customers, its lineitems copy
  * i's orders/parts/suppliers. Dims `region`/`nation` are fixed
  * catalogs and copy once (customer/supplier nationkeys stay valid).
  * `documents` text is per-copy token-salted ([[replicated]]: copies
  * share zero shingles, so near-dup structure grows linearly — output
  * sizes stay ~10×, not 100×); `embeddings` replicate by the sign-flip
  * diagonal ([[replicatedEmb]]: within-copy geometry preserved,
  * cross-copy cosines decorrelated). Customers replicate by
  * [[replicatedCustomer]] (names re-derived from the shifted key at the
  * 11M stride, so rl1 record linkage links within copies only).
  * `events` keep user_id (per-user density grows — the conservative,
  * hot-key direction).
  */
object GenScale {

  /** `df` replicated N×, copy i's `strides` columns shifted by
    * i × stride (every other column kept as-is). */
  def offsets(df: DataFrame, n: Int, strides: (String, Long)*): DataFrame =
    (0 until n).map { i =>
      strides.foldLeft(df) { case (acc, (c, stride)) =>
        acc.withColumn(c, col(c) + lit(i.toLong * stride))
      }
    }.reduce(_ unionByName _)

  /** Documents replicated N×, each copy's text salted with its copy
    * index so LSH candidates never cross copies — the pair structure
    * grows linearly by construction. */
  def replicated(s: SparkSession, d: String, n: Int): DataFrame = {
    val base = Tables.documents(s, d)
    (0 until n).map { i =>
      base.select(
        (col("doc_id") + lit(i.toLong * 10_000_000L)).as("doc_id"),
        // salt EVERY token with the copy index: copies become textually
        // disjoint (zero shared shingles), so the true near-dup pair
        // structure grows linearly in n — a tail-only salt would leave
        // cross-copy clones at Jaccard ≈ 1 and measure the quadratic
        // clone structure instead of the engine
        regexp_replace(col("text"), "(\\S+)", s"c${i}_$$1").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
  }

  /** Events replicated N× (fresh event_ids; user_id kept, so the
    * as-of key domain stays fixed and per-key density grows with N —
    * the hot-key direction). */
  def replicatedEvents(s: SparkSession, d: String, n: Int): DataFrame =
    offsets(Tables.events(s, d), n, "event_id" -> 10_000_000L)

  /** Customers replicate with RE-DERIVED names ('Customer#%09d' of the
    * shifted key), keeping the 18-char shape rl1's corruption rules and
    * blocking positions assume. The 11M stride makes any two copies'
    * digit strings differ in ≥2 positions, and the corruption alphabet
    * ('x', never a digit) cannot close that gap — so cross-copy
    * lev ≤ 1 links are impossible and the true link set is exactly the
    * per-copy union. (A 10M stride makes copy i's `Customer#0i0000123`
    * one edit from copy 0's name; rl1's nation + 5-char-tail pass
    * blocks those pairs together, so links grow with copies².) */
  def replicatedCustomer(s: SparkSession, d: String, n: Int): DataFrame = {
    val base = Tables.customer(s, d)
    (0 until n).map { i =>
      val key = col("c_custkey") + lit(i.toLong * CustStride)
      base.select(key.as("c_custkey"),
        format_string("Customer#%09d", key).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }.reduce(_ unionByName _)
  }
  val CustStride = 11_000_000L

  /** Lineitem replicated N× (fresh orderkeys; suppkeys/flags kept, so
    * each copy carries the base corpus's per-order supplier sets and
    * the q21a probe volumes grow linearly on an unchanged per-key
    * fanout). */
  def replicatedLineitem(s: SparkSession, d: String, n: Int): DataFrame =
    offsets(Tables.lineitem(s, d), n, "l_orderkey" -> 10_000_000L)

  /** Orders replicated N× (fresh orderkeys; dates/prices/custkeys
    * kept, so the merge filters and the as-of build side scale
    * linearly on the same domains). */
  def replicatedOrders(s: SparkSession, d: String, n: Int): DataFrame =
    offsets(Tables.orders(s, d), n, "o_orderkey" -> 10_000_000L)

  /** Embeddings replicated N× with each copy's vectors multiplied by a
    * copy-indexed DETERMINISTIC ±1 sign diagonal. Within a copy every
    * dot product is exactly preserved (the signs square to 1), so each
    * copy carries the base corpus's true near-dup structure; ACROSS
    * copies the independent sign patterns decorrelate cosines toward 0
    * (a ±1-weighted sum of the coordinate products), so cross-copy
    * pairs at any material threshold vanish and the TRUE pair
    * structure is linear in N by construction — the property the
    * earlier circular-shift replication only approximated (shifts
    * leave enough cross-copy correlation at cosine ≥ 0.4 to make the
    * pair count superlinear, measuring the data instead of the
    * engine). Copy 0 is the identity, so the base corpus rides
    * unchanged; vec_id 0 (the ANN query vector) stays unique to
    * copy 0. Sign patterns also vary the fixed LSH hyperplane buckets
    * per copy (h·(Dv) = (Dh)·v), so copies spread instead of
    * stacking. */
  def replicatedEmb(s: SparkSession, d: String, n: Int): DataFrame = {
    val base = Tables.embeddings(s, d)
    val dim = graft.ops.Similarity.Dim
    (0 until n).map { i =>
      val flipped =
        if (i == 0) col("embedding")
        else {
          val signs = (0 until dim).map { j =>
            // full avalanche mix (splitmix64 finalizer), NOT a linear
            // walk: a linear (i·a + j·b) pattern makes the RELATIVE
            // sign vector between two copies a threshold function of
            // one offset — copies whose offsets land near 0 (mod 2^k)
            // are near-clones, and the cross-copy pair count explodes
            // superlinearly (observed 611× at 40× with bit-7 of a
            // 55-per-step walk). After mixing, relative patterns are
            // balanced for every copy pair.
            var h = i.toLong * 0x9E3779B97F4A7C15L +
              j.toLong * 0xC2B2AE3D27D4EB4FL
            h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
            if ((h & 1L) == 0L) 1.0f else -1.0f
          }
          zip_with(col("embedding"),
            array(signs.map(lit): _*),
            (x, sgn) => x * sgn)
        }
      base.select(
        (col("vec_id") + lit(i.toLong * 10_000_000L)).as("vec_id"),
        col("label"), flipped.as("embedding"))
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/sf1")
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Harness.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    def write(df: DataFrame, name: String): Unit = {
      val (sec, _) = Bench.timed(spark)(
        df.write.mode("overwrite").parquet(s"$dst/$name.parquet"))
      println(f"[genscale] $name written in $sec%.1f s")
    }

    // fixed catalogs: copy once
    write(Tables.region(spark, src), "region")
    write(Tables.nation(spark, src), "nation")

    write(replicatedCustomer(spark, src, n), "customer")
    write(offsets(Tables.supplier(spark, src), n, "s_suppkey" -> 1_000_000L),
      "supplier")
    write(offsets(Tables.part(spark, src), n, "p_partkey" -> 10_000_000L),
      "part")
    write(
      offsets(Tables.orders(spark, src), n,
        "o_orderkey" -> 100_000_000L, "o_custkey" -> CustStride),
      "orders")
    write(
      offsets(Tables.lineitem(spark, src), n,
        "l_orderkey" -> 100_000_000L, "l_partkey" -> 10_000_000L,
        "l_suppkey" -> 1_000_000L),
      "lineitem")
    // events: fresh event_ids, user domain fixed (per-key density grows)
    write(offsets(Tables.events(spark, src), n, "event_id" -> 1_000_000_000L),
      "events")
    write(replicated(spark, src, n), "documents")
    write(replicatedEmb(spark, src, n), "embeddings")

    println(s"[genscale] done: $dst at ${n}x of $src")
    spark.stop()
  }
}
