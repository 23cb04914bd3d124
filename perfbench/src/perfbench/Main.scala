package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, SparkEntry}
import graft.functions.{Hashing, VectorExprs}
import graft.operators.{Normalize, Sinks}
import graft.streaming.NormalizationJob

/** One benchmark run of one workload in one JVM.
  *
  * Set-up is the benchmark's whole start: the JVM's first (cold) session
  * start plus one warm-up pass, timed once as `setup_s`. A JVM has one cold
  * start, and timing restarts instead would hide work a change moves into
  * session start or into a query's first run. The warm-up pass of a query
  * workload writes each result to parquet for the output checks. Then
  * `passes` measured passes run, in a seeded query order, each query built
  * by its registered function and driven by `graft.Bench.drive`. The ETL
  * workload's passes are batch normalize + partitioned sink + streaming
  * backlog drain.
  *
  * With `trace=1` the [[Collector]] is attached for the measured passes and
  * spans are recorded around every layer call, so the result carries the
  * layer numbers; kernel probes run after the passes. Without it nothing is
  * attached. Everything, the spans too, is written as one JSON object to
  * `out`.
  */
object Main {

  private def arg(m: Map[String, String], k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing $k=..."))

  def main(argv: Array[String]): Unit = {
    val a = argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = arg(a, "workload")
    val data = arg(a, "data")
    val work = arg(a, "work")
    val cores = arg(a, "cores").toInt
    val passes = arg(a, "passes").toInt
    val seed = arg(a, "seed").toLong
    val trace = arg(a, "trace") == "1"
    val queries = a.get("queries").filter(_.nonEmpty).map(_.split(",").toSeq)
      .getOrElse(Seq.empty)
    val run = new Run(workload, data, work, cores, seed, queries)

    val t0 = System.nanoTime()
    run.startSession()
    val start = System.nanoTime()
    run.warmUp()
    val t1 = System.nanoTime()
    val out = mutable.LinkedHashMap[String, Any](
      "setup_s" -> (t1 - t0) / 1e9, "session_start_s" -> (start - t0) / 1e9,
      "warmup_s" -> (t1 - start) / 1e9)
    val collector = if (trace) Some(new Collector(run.spark)) else None
    collector.foreach(_.open())
    out("passes") = (1 to passes).map(p => run.pass(p, traced = trace))
    collector.foreach { c =>
      c.close()
      out("layers") = c.totals
      out("probes") = run.probes()
      out("spans") = run.spans.toSeq
    }
    out("oracle_sql") = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    out("errors") = run.errors.toSeq
    out("peak_rss_mb") = peakRssMb()
    run.spark.stop()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(arg(a, "out")), json.writeValueAsString(out))
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** One timed region: kind (pass, build, drive, normalize, sinks, stream,
  * probe), name, pass, nanoTime bounds and the enclosing span. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      pass: Int, startNs: Long, endNs: Long)

/** What one measured pass produced: its time, the latency of each operation
  * (query, or micro-batch on ETL), and on ETL the stream's progress per
  * micro-batch and the files the two sinks wrote. */
final case class PassResult(pass: Int, wallS: Double, latencies: Seq[(String, Double)],
                            stream: Seq[Map[String, Double]], streamWallS: Double,
                            sinkFiles: Long, sinkBytes: Long, streamFiles: Long)

final class Run(workload: String, data: String, work: String, cores: Int,
                seed: Long, queries: Seq[String]) {
  var spark: SparkSession = _
  val spans = mutable.ArrayBuffer.empty[Span]
  val errors = mutable.ArrayBuffer.empty[String]
  private var tracing = false
  private var current = 0

  /** The session `graft.Bench` builds (cores, shuffle partitions = cores,
    * UTC, no UI), with scratch space kept under the run's directory. */
  def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  /** Record a span around `body`; spans nest through `current`. */
  def span[T](kind: String, name: String, pass: Int)(body: => T): T = {
    val parent = current
    val id = spans.size + 1
    current = id
    val prop = if (tracing) s"$kind:$name" else null
    val before = spark.sparkContext.getLocalProperty(Collector.SpanKey)
    spark.sparkContext.setLocalProperty(Collector.SpanKey, prop)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spark.sparkContext.setLocalProperty(Collector.SpanKey, before)
      current = parent
      if (tracing) spans += Span(id, parent, kind, name, pass, t0, t1)
    }
  }

  private def fn(q: String) = SparkEntry.queries(q)

  /** Untimed first pass. Query workloads write every result to parquet
    * for the output checks; ETL runs a plain pass. */
  def warmUp(): Unit =
    if (workload == "etl") pass(0, traced = false)
    else queries.foreach { q =>
      try fn(q)(spark, data).write.mode("overwrite")
        .parquet(s"$work/results/$q")
      catch { case NonFatal(e) => errors += s"verify $q: ${e.getMessage}" }
    }

  def pass(p: Int, traced: Boolean): PassResult = {
    tracing = traced
    val r = if (workload == "etl") etlPass(p) else queryPass(p)
    tracing = false
    r
  }

  private def queryPass(p: Int): PassResult = {
    val order = new scala.util.Random(seed * 1000003L + p).shuffle(queries)
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val t0 = System.nanoTime()
    span("pass", workload, p) {
      order.foreach { q =>
        val s0 = System.nanoTime()
        try {
          val df = span("build", q, p)(fn(q)(spark, data))
          span("drive", q, p)(Bench.drive(df))
          lat += q -> (System.nanoTime() - s0) / 1e9
        } catch { case NonFatal(e) => errors += s"pass $p $q: ${e.getMessage}" }
      }
    }
    PassResult(p, (System.nanoTime() - t0) / 1e9, lat.toSeq, Nil, 0, 0, 0, 0)
  }

  private def etlPass(p: Int): PassResult = {
    val dir = s"$work/etl/p$p"
    val lines = s"$data/lines"
    var progress = Seq.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    var t1 = 0L
    def attempt(what: String)(body: => Unit): Unit =
      try body catch { case NonFatal(e) => errors += s"pass $p $what: ${e.getMessage}" }
    span("pass", workload, p) {
      attempt("batch") {
        val normalized = span("normalize", "normalizeJsonLines", p)(
          Normalize.normalizeJsonLines(spark.read.text(lines)))
        span("sinks", "writePartitionedJsonlByEventTime", p)(
          Sinks.writePartitionedJsonlByEventTime(normalized, "createdAt", s"$dir/batch"))
      }
      t1 = System.nanoTime()
      attempt("stream") {
        span("stream", "NormalizationJob", p) {
          val q = NormalizationJob.start(spark, lines, s"$dir/stream", s"$dir/checkpoint",
            maxFilesPerTrigger = Run.MaxFilesPerTrigger)
          try q.processAllAvailable() finally q.stop()
          progress = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { pr =>
            pr.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap +
              ("rows" -> pr.numInputRows.toDouble)
          }
        }
      }
    }
    val t2 = System.nanoTime()
    val (bf, bb) = Run.files(Paths.get(s"$dir/batch"))
    val (sf, _) = Run.files(Paths.get(s"$dir/stream"))
    PassResult(p, (t2 - t0) / 1e9,
      progress.zipWithIndex.map { case (m, i) =>
        s"micro-batch-$i" -> m.getOrElse("triggerExecution", 0.0) / 1e3 },
      progress, (t2 - t1) / 1e9, bf, bb, sf)
  }

  /** Noop-driven kernel probes on the workload's own inputs, each minus a
    * baseline that reads the same materialized frame, in ns per unit.
    * Best of three timings each. A kernel whose input table the workload
    * does not have reports nothing. */
  def probes(): Map[String, Double] = {
    def best(df: => DataFrame): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); Bench.drive(df); (System.nanoTime() - t0).toDouble
      }.min
    def per(kernel: DataFrame, base: DataFrame, units: Double): Double =
      math.max(0.0, best(kernel) - best(base)) / units
    def pinned(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
    val m = mutable.LinkedHashMap.empty[String, Double]
    def has(f: String) = Files.exists(Paths.get(s"$data/$f"))
    span("probe", workload, 0) {
      if (has("documents.parquet")) {
        val docs = pinned(spark.read.parquet(s"$data/documents.parquet").select("text"))
        val n = docs.count().toDouble
        m("shingle_ns_per_doc") = per(
          docs.select(Hashing.hashedShingles(col("text"))), docs, n)
        val sh = pinned(docs.select(Hashing.hashedShingles(col("text")).as("sh")))
        m("minhash_ns_per_doc") = per(
          sh.select(Hashing.minhashBands(col("sh"))), sh, n)
        m("simhash_ns_per_doc") = per(
          sh.select(Hashing.simhash(col("sh"))), sh, n)
        val toks = pinned(docs.select(explode(split(col("text"), "\\s+")).as("tok")))
        m("token_hash_ns_per_token") = per(
          toks.select(Hashing.tokenHash(col("tok"))), toks, toks.count().toDouble)
      }
      if (has("embeddings.parquet")) {
        // every vector pair, materialized once, then replayed 250 times so
        // the kernel's time stands out of the row-generation baseline
        val e = spark.read.parquet(s"$data/embeddings.parquet")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        val pairs = pinned(e.select(col("vec_id").as("a"), col("e").as("ea"))
          .crossJoin(e.select(col("vec_id").as("b"), col("e").as("eb"))))
          .crossJoin(spark.range(250))
        val n = pairs.count().toDouble
        m("dot_ns_per_pair") = per(
          pairs.select(VectorExprs.dot(col("ea"), col("eb"))),
          pairs.select(col("a") + col("b") + col("id")), n)
      }
      if (has("lines")) {
        val lines = pinned(spark.read.text(s"$data/lines"))
        val normalized = Normalize.normalizeJsonLines(lines)
        m("normalize_ns_per_record") = per(
          normalized, lines.select(length(col("value"))), normalized.count().toDouble)
      }
    }
    m.toMap
  }
}

object Run {
  /** One input file per micro-batch: the drain then has as many
    * micro-batches as the input has files, so per-batch commit overhead
    * is measured on every batch rather than folded into one big batch. */
  val MaxFilesPerTrigger = 1

  /** (data files, data bytes) under a directory, skipping metadata. */
  def files(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val fs = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .filter { f =>
          val rel = root.relativize(f).toString
          !rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
        }.toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }
}
