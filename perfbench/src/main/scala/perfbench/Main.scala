package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.CRC32

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Harness, SparkEntry, Tables}
import graft.clean.Clean
import graft.enrich.Enrich
import graft.geo.Geo
import graft.ingest.{Ingest, LogSink}
import graft.merge.Upsert
import graft.model.Staging
import graft.ops.Materialize

/** Measurement side of the benchmark. It drives the program only through
  * its public functions and writes raw observations as JSON lines; the
  * Python runner turns them into metrics.
  *
  *   Main --mode sweep|monthly --data DIR --out DIR --passes N
  *        --trace 0|1 [--queries FILE] [--digests FILE]
  *   Main --mode selftest
  *
  * `records.jsonl` gets one line per set-up, operation, pass and check;
  * with `--trace 1` a listener also counts jobs, stages, tasks and their
  * metrics per operation, and `spans.jsonl` gets the span tree. */
object Main {

  // ---- JSON output -------------------------------------------------------

  private def js(v: Any): String = v match {
    case null => "null"
    case s: String => graft.functions.Functions.jsonEscape(s)
      .prependedAll("\"").appended('"')
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case other => js(other.toString)
  }

  private final class Sink(path: String) {
    private val w = new PrintWriter(Files.newBufferedWriter(Paths.get(path),
      StandardCharsets.UTF_8))
    def apply(fields: (String, Any)*): Unit =
      w.println(fields.map { case (k, v) => js(k) + ":" + js(v) }.mkString("{", ",", "}"))
    def close(): Unit = w.close()
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  private def now(): Double = System.nanoTime() / 1e9
  private def epochS(): Double = System.currentTimeMillis() / 1e3

  // ---- tracing -----------------------------------------------------------

  private final case class Span(id: Int, name: String, start: Double,
      var end: Double, parent: Int, op: String)

  /** Spans kept in memory, written when the run ends. */
  private final class Spans {
    val all = mutable.ArrayBuffer.empty[Span]
    def open(name: String, parent: Int, op: String, start: Double = epochS()): Int =
      synchronized {
        all += Span(all.size + 1, name, start, Double.NaN, parent, op)
        all.size
      }
    def close(id: Int, end: Double = epochS()): Unit =
      synchronized { all(id - 1).end = end }
    def write(path: String): Unit = {
      val sink = new Sink(path)
      all.foreach(s => sink("id" -> s.id, "name" -> s.name, "start" -> s.start,
        "end" -> s.end, "parent" -> (if (s.parent == 0) null else s.parent),
        "op" -> s.op))
      sink.close()
    }
  }

  /** Per-operation counters filled from listener events. The bus is drained
    * at the end of every traced operation, so all events of an operation
    * are delivered while it is still the current one. */
  private final class Probe(spans: Spans) extends SparkListener
      with QueryExecutionListener {
    @volatile var op: String = ""
    val counters = mutable.Map.empty[String, mutable.Map[String, Double]]
    private val jobSpans = mutable.Map.empty[Int, Int]
    private def add(key: String, v: Double): Unit = synchronized {
      val m = counters.getOrElseUpdate(op, mutable.Map.empty[String, Double])
      m(key) = m.getOrElse(key, 0.0) + v
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("jobs", 1)
      val parent = Option(e.properties)
        .flatMap(p => Option(p.getProperty("perfbench.span"))).fold(0)(_.toInt)
      jobSpans(e.jobId) = spans.open("job", parent, op, e.time / 1e3)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpans.remove(e.jobId).foreach(spans.close(_, e.time / 1e3))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("run_ms", m.executorRunTime.toDouble)
        add("cpu_ns", m.executorCpuTime.toDouble)
        add("gc_ms", m.jvmGCTime.toDouble)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      add("plan_ms", Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum)
      joins(qe.executedPlan).foreach(j => add(j, 1))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()

    /** Join operators of the final (post-AQE) plan, subqueries included. */
    private def joins(plan: SparkPlan): Seq[String] = {
      val out = mutable.ArrayBuffer.empty[String]
      def walk(p: SparkPlan): Unit = {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case _ =>
            p.nodeName match {
              case "SortMergeJoin" => out += "smj"
              case "ShuffledHashJoin" => out += "shj"
              case "BroadcastHashJoin" => out += "bhj"
              case _ =>
            }
            p.children.foreach(walk)
            p.subqueries.foreach(walk)
        }
      }
      walk(plan)
      out.toSeq
    }
  }

  // ---- output digest -----------------------------------------------------

  /** Doubles compare at float precision, so a last-bit difference from
    * aggregation order does not read as a wrong answer. */
  private def loosen(t: DataType): DataType = t match {
    case DoubleType => FloatType
    case BinaryType => StringType
    case ArrayType(e, n) => ArrayType(loosen(e), n)
    case MapType(k, v, n) => MapType(loosen(k), loosen(v), n)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = loosen(f.dataType))))
    case other => other
  }

  /** Order-insensitive digest over all columns: row count plus the two
    * 32-bit halves of the summed per-row hashes. */
  def digest(df: DataFrame): String = {
    val renamed = df.toDF(df.columns.indices.map(i => s"_$i"): _*)
    val proj = renamed.schema.fields.zipWithIndex.map { case (f, i) =>
      col(f.name).cast(loosen(f.dataType)).as(s"c${i}_${df.columns(i)}")
    }
    val h = xxhash64(to_json(struct(proj.toIndexedSeq: _*)))
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  // ---- session set-up ----------------------------------------------------

  private val TableNames = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** A session from `Harness.session` plus `register`, timed from JVM
    * start, so JVM start-up, class loading and the first SparkContext
    * count in `setup_s`. */
  private def setUp(rec: Sink)(register: SparkSession => Unit): SparkSession = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val ts = epochS()
    val spark = Harness.session(Runtime.getRuntime.availableProcessors.toString)
    val tSession = epochS() - ts
    register(spark)
    rec("kind" -> "setup", "setup_s" -> (epochS() - jvmStart), "session_s" -> tSession)
    spark
  }

  private def attach(spark: SparkSession, probe: Probe): Probe = {
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    probe
  }

  // ---- sweep workloads ---------------------------------------------------

  private def sweep(a: Map[String, String]): Unit = {
    val dataDir = a("--data")
    val out = a("--out")
    val passes = a("--passes").toInt
    val trace = a.getOrElse("--trace", "0") == "1"
    val order = Files.readAllLines(Paths.get(a("--queries"))).asScala.map(_.trim)
      .filter(_.nonEmpty).toSeq
    val expected = a.get("--digests").filter(p => new File(p).exists)
      .map(p => Files.readAllLines(Paths.get(p)).asScala.map(_.split("\t"))
        .collect { case Array(k, v) => k -> v }.toMap)
      .getOrElse(Map.empty[String, String])
    val rec = new Sink(s"$out/records.jsonl")
    val spans = new Spans

    val spark = setUp(rec) { spark =>
      TableNames.foreach { n =>
        val df = if (n == "events") Tables.events(spark, dataDir)
          else Tables.t(spark, dataDir, n)
        df.createOrReplaceTempView(n)
      }
    }
    val sc = spark.sparkContext
    val staticParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val probe = if (trace) Some(attach(spark, new Probe(spans))) else None
    val queries = SparkEntry.queries

    def runOp(pass: Int, name: String, passSpan: Int): Unit = {
      val opId = s"$pass/$name"
      probe.foreach(_.op = opId)
      val opSpan = if (trace) spans.open("operation", passSpan, opId) else 0
      var error: String = null
      var check = "none"
      var buildS, execS = Double.NaN
      var seams = 0
      var seamBytes = 0L
      var ratcheted = false
      try {
        val bSpan = if (trace) spans.open("build", opSpan, opId) else 0
        sc.setLocalProperty("perfbench.span", bSpan.toString)
        val t0 = now()
        val df = queries(name)(spark, dataDir)
        val t1 = now()
        if (trace) spans.close(bSpan)
        val eSpan = if (trace) spans.open("execute", opSpan, opId) else 0
        sc.setLocalProperty("perfbench.span", eSpan.toString)
        df.write.format("noop").mode("overwrite").save()
        val t2 = now()
        if (trace) spans.close(eSpan)
        sc.setLocalProperty("perfbench.span", null)
        buildS = t1 - t0
        execS = t2 - t1
        if (pass == 0) {
          val d = digest(df)
          check = expected.get(name) match {
            case Some(e) if e == d => "pass"
            case Some(e) => error = s"digest $d, expected $e"; "fail"
            case None => "recorded:" + d
          }
        }
        if (trace) {
          seams = sc.getPersistentRDDs.size
          seamBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
          ratcheted = spark.conf.get("spark.sql.shuffle.partitions").toInt > staticParts
        }
      } catch {
        case e: Throwable =>
          error = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)
      } finally sc.setLocalProperty("perfbench.span", null)
      val rSpan = if (trace) spans.open("release", opSpan, opId) else 0
      val r0 = now()
      Materialize.releaseAll(spark)
      val releaseS = now() - r0
      if (trace) {
        spans.close(rSpan)
        spans.close(opSpan)
        ListenerBus.drain(sc)
      }
      val leaked = sc.getPersistentRDDs.size
      rec("kind" -> "op", "pass" -> pass, "name" -> name, "ok" -> (error == null),
        "error" -> error, "check" -> check, "build_s" -> buildS, "exec_s" -> execS,
        "release_s" -> releaseS, "leaked" -> leaked, "seams" -> seams,
        "seam_bytes" -> seamBytes, "ratchet" -> ratcheted,
        "counters" -> probe.flatMap(_.counters.get(opId)).getOrElse(Map.empty))
    }

    def runPass(pass: Int): Unit = {
      val passSpan = if (trace) spans.open("workload pass", 0, s"$pass") else 0
      val t0 = now()
      order.foreach(runOp(pass, _, passSpan))
      if (trace) spans.close(passSpan)
      rec("kind" -> "pass", "pass" -> pass, "elapsed_s" -> (now() - t0))
    }

    // a cold pass, then `passes` warm ones
    (0 to passes).foreach(runPass)
    rec("kind" -> "end", "peak_rss_mb" -> peakRssMb())
    rec.close()
    if (trace) spans.write(s"$out/spans.jsonl")
    stopSession(spark)
  }

  // ---- monthly batch -----------------------------------------------------

  /** The reference's monthly job over generated GeoJSON: each operation
    * (the historical base, then each month) runs ingest -> enrich -> clean
    * -> staging/merge -> fact and model, every stage snapshot written
    * through `LogSink.writeWithLog` and re-read by the next stage. */
  private def monthly(a: Map[String, String]): Unit = {
    val dataDir = a("--data")
    val out = a("--out")
    val passes = a("--passes").toInt
    val trace = a.getOrElse("--trace", "0") == "1"
    val ops = Files.readAllLines(Paths.get(s"$dataDir/ops.tsv")).asScala
      .map(_.split("\t")).collect { case Array(n, f) => n -> f }.toSeq
    val rec = new Sink(s"$out/records.jsonl")
    val spans = new Spans
    val tsLo = "1900-01-01 00:00:00"
    val tsHi = "2100-01-01 00:00:00"

    var world: DataFrame = null
    var countryList: Seq[(String, String)] = Nil
    val spark = setUp(rec) { spark =>
      val entries = spark.read.json(s"$dataDir/world.jsonl")
        .select("country", "region", "rings").collect()
        .map { r =>
          (r.getString(0), r.getString(1),
            r.getAs[collection.Seq[collection.Seq[collection.Seq[Double]]]](2)
              .map(_.map(_.toList).toList).toList)
        }.toSeq
      world = Geo.worldDim(spark, entries).cache()
      world.count()
      countryList = entries.map(e => (e._1, e._2))
    }
    val sc = spark.sparkContext
    val staticParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val probe = if (trace) Some(attach(spark, new Probe(spans))) else None
    // persistent RDDs of the cached world dim, which every operation reuses
    var worldRdds = sc.getPersistentRDDs.keySet

    var prevTotal = 0L
    def runBatch(pass: Int): Unit = {
      prevTotal = 0L
      val dir = s"$out/batch-$pass"
      val log = s"$dir/sink.log"
      new File(dir).mkdirs()
      val passSpan = if (trace) spans.open("workload pass", 0, s"$pass") else 0
      var staging: DataFrame = null
      var batchWall = 0.0
      ops.zipWithIndex.foreach { case ((name, file), k) =>
        val opId = s"$pass/$name"
        probe.foreach(_.op = opId)
        val opSpan = if (trace) spans.open("operation", passSpan, opId) else 0
        val stageS = mutable.LinkedHashMap.empty[String, Double]
        var sinkS = 0.0
        def stage[T](module: String)(body: => T): T = {
          val s = if (trace) spans.open(module, opSpan, opId) else 0
          probe.foreach(_.op = s"$opId#$module")
          sc.setLocalProperty("perfbench.span", s.toString)
          val t0 = now()
          try body finally {
            stageS(module) = stageS.getOrElse(module, 0.0) + (now() - t0)
            if (trace) { spans.close(s); ListenerBus.drain(sc) }
            sc.setLocalProperty("perfbench.span", null)
            probe.foreach(_.op = s"$opId#checks")
          }
        }
        def snapshot(df: DataFrame, tag: String): (DataFrame, Long) = {
          val path = s"$dir/$k-$name/$tag"
          val t0 = now()
          val rows = LogSink.writeWithLog(df, tag, path, log)
          sinkS += now() - t0
          (spark.read.parquet(path), rows)
        }
        var error: String = null
        var offered, inserted, rawRows, matched = 0L
        var wall = Double.NaN
        val t0 = now()
        try {
          val (flat, nRaw) = stage("Ingest") {
            snapshot(Ingest.flattenFeatures(spark.read.text(s"$dataDir/$file"), "value")
              .filter(col("place").isNotNull), "ingest")
          }
          rawRows = nRaw
          val (enriched, _) = stage("Enrich") {
            snapshot(Enrich.addCountryRegion(flat, world, countryList,
              "longitude", "latitude", "place"), "enrich")
          }
          val (cleaned, _) = stage("Clean") {
            snapshot(Clean.cleanEvents(
              enriched
                .filter(Clean.rangeFilter(col("latitude"), -90, 90) &&
                  Clean.rangeFilter(col("longitude"), -180, 180))
                .withColumn("event_datetime", timestamp_millis(col("time"))),
              "magnitude", "event_datetime", tsLo, tsHi, -1, 10,
              Seq("place", "event_datetime"), Seq("depth")), "clean")
          }
          val (merged, total) = stage("Upsert") {
            val month = Staging.stgEarthquake(cleaned, cleaned.limit(0))
            val existing = Option(staging).getOrElse(month.limit(0))
            val fresh = Staging.stgIncremental(existing, month)
            snapshot(Upsert.antiJoinUpsert(existing, fresh, Seq("event_id")), "staging")
          }
          inserted = total - prevTotal
          prevTotal = total
          staging = merged
          stage("Staging") {
            val (fact, _) = snapshot(Staging.factEarthquake(merged), "fact")
            snapshot(Staging.yearlyEarthquakeStats(fact), "yearly_stats")
          }
          wall = now() - t0
          if (trace) {
            matched = enriched.filter(col("country").isNotNull).count()
            offered = Staging.stgEarthquake(cleaned, cleaned.limit(0)).count()
          }
        } catch {
          case e: Throwable =>
            error = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)
        }
        if (error == null) batchWall += wall
        var seams = 0
        var seamBytes = 0L
        var ratcheted = false
        if (trace) {
          seams = (sc.getPersistentRDDs.keySet -- worldRdds).size
          seamBytes = sc.getRDDStorageInfo.filterNot(i => worldRdds(i.id))
            .map(i => i.memSize + i.diskSize).sum
          ratcheted = spark.conf.get("spark.sql.shuffle.partitions").toInt > staticParts
        }
        // release outside the timed region, then re-cache the world dim
        val rSpan = if (trace) spans.open("release", opSpan, opId) else 0
        val r0 = now()
        Materialize.releaseAll(spark)
        val releaseS = now() - r0
        val leaked = sc.getPersistentRDDs.size
        world.cache().count()
        worldRdds = sc.getPersistentRDDs.keySet
        if (trace) {
          spans.close(rSpan)
          spans.close(opSpan)
          ListenerBus.drain(sc)
        }
        rec("kind" -> "op", "pass" -> pass, "name" -> name, "ok" -> (error == null),
          "error" -> error, "wall_s" -> wall, "stages" -> stageS, "sink_s" -> sinkS,
          "raw_rows" -> rawRows, "offered" -> offered, "inserted" -> inserted,
          "matched" -> matched, "release_s" -> releaseS, "leaked" -> leaked,
          "seams" -> seams, "seam_bytes" -> seamBytes, "ratchet" -> ratcheted,
          "stage_counters" -> stageS.keys.map(m =>
            m -> probe.flatMap(_.counters.get(s"$opId#$m")).getOrElse(Map.empty)).toMap)
      }
      val wall = batchWall
      if (trace) spans.close(passSpan)
      // output checks, outside the timed region
      if (staging != null) {
        val keys = staging.select(col("place"), unix_millis(col("event_datetime")))
          .collect()
        var sum, xor = 0L
        keys.foreach { r =>
          val c = new CRC32
          c.update(s"${r.getString(0)}|${r.getLong(1)}".getBytes(StandardCharsets.UTF_8))
          sum += c.getValue
          xor ^= c.getValue
        }
        val fact = spark.read.parquet(
          s"$dir/${ops.size - 1}-${ops.last._1}/fact")
        val perCountry = fact.groupBy(coalesce(col("country"), lit(""))).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        rec("kind" -> "batch", "pass" -> pass, "wall_s" -> wall, "dir" -> dir,
          "keys_n" -> keys.length, "keys_sum" -> sum, "keys_xor" -> xor,
          "countries" -> perCountry)
      } else rec("kind" -> "batch", "pass" -> pass, "wall_s" -> wall, "dir" -> dir)
    }

    // `passes` batches; the first runs cold
    (0 until passes).foreach(runBatch)
    rec("kind" -> "end", "peak_rss_mb" -> peakRssMb())
    rec.close()
    if (trace) spans.write(s"$out/spans.jsonl")
    stopSession(spark)
  }

  /** Checks that [[digest]] ignores row order and partitioning but not
    * content; prints `digest selftest ok` or exits non-zero. */
  private def selftest(): Unit = {
    val spark = Harness.session("2")
    import spark.implicits._
    val df = (0 until 200).map { i =>
      (i.toLong, if (i % 7 == 0) null else s"s$i", i * 0.1, Seq(i, i + 1),
        Map(s"k$i" -> i.toDouble))
    }.toDF("id", "name", "x", "arr", "m")
    val base = digest(df)
    val same = Seq(digest(df.orderBy(desc("id"))), digest(df.repartition(7)),
      digest(df.orderBy(rand(3)).coalesce(1)))
    val changed = Seq(digest(df.filter(col("id") =!= 5)),
      digest(df.withColumn("x", when(col("id") === 9, 0.0).otherwise(col("x")))),
      digest(df.union(df.limit(1))))
    stopSession(spark)
    if (same.exists(_ != base) || changed.contains(base))
      sys.error(s"digest selftest failed: $base vs $same / $changed")
    println("digest selftest ok")
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    a.get("--mode") match {
      case Some("sweep") => sweep(a)
      case Some("monthly") => monthly(a)
      case Some("selftest") => selftest()
      case other => sys.error(s"unknown --mode $other")
    }
  }
}
