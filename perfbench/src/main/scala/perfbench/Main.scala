package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Graft, SparkEntry}

/** The benchmark's JVM side: sets the session up, runs one workload's
  * timed operations and writes raw measurements, check outputs and (when
  * traced) spans as JSON into `--out`. perfbench/run.py turns those
  * into metrics and runs the DuckDB output checks.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --fixtures DIR --out DIR --work DIR --slots K */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("data"), a("fixtures"), a("out"), a("work"), a("slots").toInt)
    Files.createDirectories(Paths.get(cfg.out))
    val rec = new Record
    val workload: Workload = cfg.workload match {
      case "etl_relational" => new BatchWorkload(cfg, Workloads.etl)
      case "corpus_batch"   => new BatchWorkload(cfg, Workloads.corpus)
      case "index_serve"    => new ServeWorkload(cfg)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // the session part of set-up is repeated and its median kept; the
    // workload's own set-up (index builds) runs once, on the last session
    var spark: SparkSession = null
    val sessions = (1 to Workloads.SessionReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cfg)
      org.apache.spark.sql.graft.GraftFunctions.register(spark)
      spark.range(100000).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    workload.setup(spark)
    val own = (System.nanoTime() - t0) / 1e9
    rec.nums("session_s") ++= sessions
    rec.nums("workload_setup_s") += own
    rec.nums("setup_s") += Layers.median(sessions) + own
    rec.config ++= Seq(
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory() / (1 << 20)).toString,
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "workload" -> cfg.workload, "seed" -> cfg.seed.toString,
      "traced" -> cfg.trace.toString)
    val tracer = if (cfg.trace) Some(new Tracer(spark, cfg.slots)) else None
    workload.run(spark, new Runner(spark, tracer, rec), rec)
    val c0 = System.nanoTime()
    workload.check(spark, rec)
    rec.nums("check_s") += (System.nanoTime() - c0) / 1e9
    tracer.foreach { t =>
      rec.layers ++= Layers.of(t.opSpans)
      Files.writeString(Paths.get(cfg.out, "spans.json"), t.spansJson)
    }
    Files.writeString(Paths.get(cfg.out, "result.json"), rec.json)
    spark.stop()
  }

  def session(cfg: Config): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${cfg.slots}]")
      .config("spark.sql.shuffle.partitions", cfg.slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, fixtures: String, out: String, work: String, slots: Int)

/** Raw measurements, written as one JSON object for run.py. */
final class Record {
  val config = mutable.LinkedHashMap.empty[String, String]
  private val numMap = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def nums(k: String): mutable.ArrayBuffer[Double] =
    numMap.getOrElseUpdate(k, mutable.ArrayBuffer.empty)
  val ops = mutable.ArrayBuffer.empty[String]
  val checks = mutable.ArrayBuffer.empty[String]
  val strings = mutable.LinkedHashMap.empty[String, String]
  val layers = mutable.LinkedHashMap.empty[String, Double]

  def op(name: String, kind: String, secs: Double, ok: Boolean, error: String = ""): Unit =
    ops += s"""{"name":${Json.str(name)},"kind":${Json.str(kind)},"s":${Json.num(secs)},""" +
      s""""ok":$ok,"error":${Json.str(error)}}"""

  def check(name: String, ok: Boolean, detail: String): Unit =
    checks += s"""{"name":${Json.str(name)},"ok":$ok,"detail":${Json.str(detail)}}"""

  def json: String = {
    def obj[V](m: collection.Map[String, V])(f: V => String) =
      m.map { case (k, v) => s"${Json.str(k)}:${f(v)}" }.mkString("{", ",", "}")
    Seq(
      s""""config":${obj(config)(Json.str)}""",
      s""""nums":${obj(numMap)(_.map(Json.num).mkString("[", ",", "]"))}""",
      s""""ops":${ops.mkString("[", ",\n", "]")}""",
      s""""checks":${checks.mkString("[", ",\n", "]")}""",
      s""""strings":${obj(strings)(Json.str)}""",
      s""""layers":${obj(layers)(Json.num)}""").mkString("{", ",\n", "}\n")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

/** Result of one timed call: seconds, collected rows and their schema. */
final case class Timed(secs: Double, rows: Array[Row], schema: StructType)

/** Times calls into the engine. A call is the plan construction (the
  * graft function returning a DataFrame, builder collects included)
  * plus its execution to complete results on the client. When traced,
  * the call runs inside an operation span with build and execute child
  * spans; untraced, no listener is attached at all. After every call
  * the benchmark reads the leaked persistent RDDs, then clears them and
  * collects the heap, so calls stay independent: each starts with an
  * empty young generation, and no garbage of one call is promoted
  * during the next (all outside the timed interval). */
final class Runner(spark: SparkSession, tracer: Option[Tracer], rec: Record) {
  def call(name: String, module: String, kind: String,
      attrs: Map[String, Double] = Map.empty)(build: => DataFrame): Timed = {
    val sc = spark.sparkContext
    val res = try {
      tracer match {
        case None =>
          val t0 = System.nanoTime()
          val df = build
          val rows = df.collect()
          Timed((System.nanoTime() - t0) / 1e9, rows, df.schema)
        case Some(t) =>
          t.attach()
          try t.op(name, module) { op =>
            op.attrs ++= attrs
            val t0 = System.nanoTime()
            val df = t.span(op.id, "build", "build")(_ => build)
            val rows = t.span(op.id, "execute", "execute")(_ => df.collect())
            t.recordLeaks(op, sc.getPersistentRDDs.size)
            Timed((System.nanoTime() - t0) / 1e9, rows, df.schema)
          } finally t.detach()
      }
    } catch {
      case e: Throwable =>
        rec.op(name, kind, 0.0, ok = false,
          error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
        cleanup()
        throw new CallFailed(name, e)
    }
    rec.op(name, kind, res.secs, ok = true)
    cleanup()
    res
  }

  private def cleanup(): Unit = {
    val t0 = System.nanoTime()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    rec.nums("cleanup_s") += (System.nanoTime() - t0) / 1e9
  }
}

final class CallFailed(name: String, cause: Throwable)
  extends RuntimeException(s"$name failed", cause)

trait Workload {
  def setup(spark: SparkSession): Unit
  def run(spark: SparkSession, runner: Runner, rec: Record): Unit
  def check(spark: SparkSession, rec: Record): Unit
}

/** A batch operation: a named engine call returning a DataFrame. */
final case class Op(name: String, module: String, run: (SparkSession, Config) => DataFrame)

object Workloads {
  val SessionReps = 3

  private def q(name: String, module: String): Op =
    Op(name, module, (s, c) => SparkEntry.queries(name)(s, c.data))

  /** The reference pipeline plus lakehouse analytics: many short
    * multi-stage jobs, so planning, builder collects and scheduling are
    * a large share of the time. */
  val etl: Seq[Op] = Seq(
    q("x2_classify_explode_outer", "Relational"), q("j2_keyword_theta_join", "Relational"),
    q("u1_schema_union", "Relational"), q("w3_positional_repair", "Relational"),
    q("flagship_policy_db", "Flagship"),
    q("q1_agg", "Relational"), q("q3_top_revenue", "Relational"),
    q("a14_winsorize_approx", "RelationalExt"), q("g_cc_star", "Graph"),
    Op("hicsa_build_database", "HiCsa", (s, c) => Graft.hicsa.buildDatabase(
      s.read.parquet(s"${c.fixtures}/elements.parquet"),
      s.read.parquet(s"${c.fixtures}/policy.parquet"),
      s.read.parquet(s"${c.fixtures}/support.parquet"),
      "https://www.nrcs.usda.gov")))

  /** LLM corpus preparation: executor compute, shuffles, native
    * expressions and persist decisions dominate. */
  val corpus: Seq[Op] = Seq(
    q("pipeline_clean_corpus", "CleanCorpus"), q("d_minhash_lsh", "Dedup"),
    q("d_simhash", "Dedup"), q("t_lm_score", "TextAnalysis"),
    q("s_kmeans", "Similarity"), q("s_pq_adc", "Similarity"))
}

/** etl_relational and corpus_batch: passes over a fixed operation list
  * on seeded inputs, each call executed to complete results. The order
  * is fixed too, so first-call JVM warm-up lands on the same calls in
  * every run.
  * The first pass's results are kept and written out for the output
  * checks after timing. */
final class BatchWorkload(cfg: Config, ops: Seq[Op]) extends Workload {
  private val kept = mutable.LinkedHashMap.empty[String, Timed]

  def setup(spark: SparkSession): Unit = {
    val missing = ops.map(_.name).filterNot(n => n == "hicsa_build_database" ||
      SparkEntry.queries.contains(n))
    require(missing.isEmpty, s"queries not registered: ${missing.mkString(", ")}")
    spark.read.parquet(s"${cfg.data}/documents.parquet").schema
  }

  def run(spark: SparkSession, runner: Runner, rec: Record): Unit = {
    val t0 = System.nanoTime()
    var pass = 0
    do {
      pass += 1
      var wall = 0.0
      ops.foreach { op =>
        try {
          val r = runner.call(op.name, op.module, "query")(op.run(spark, cfg))
          wall += r.secs
          rec.nums("query_s") += r.secs
          if (pass == 1) kept(op.name) = r
        } catch { case _: CallFailed => () }
      }
      rec.nums("pass_s") += wall
    } while ((System.nanoTime() - t0) / 1e9 < cfg.seconds)
  }

  /** Write every kept result and its oracle SQL for the DuckDB compare. */
  def check(spark: SparkSession, rec: Record): Unit = {
    kept.foreach { case (name, r) =>
      spark.createDataFrame(r.rows.toSeq.asJava, r.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"${cfg.out}/outputs/$name")
      SparkEntry.oracleSql.get(name).foreach(sql => rec.strings(s"oracle:$name") = sql)
    }
  }
}

/** Per-layer metrics from the traced operation spans: every counter
  * summed over the operations, `<Module>.self_s` per engine module, the
  * per-call index latencies, and the executor share of wall time. */
object Layers {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2 }

  def of(ops: Seq[Span]): Seq[(String, Double)] = {
    val sums = mutable.LinkedHashMap.empty[String, Double]
    for (o <- ops; (k, v) <- o.attrs if !k.startsWith("module.") && k != "self_s" &&
        k != "index.generations")
      sums(k) = sums.getOrElse(k, 0.0) + v
    val wall = ops.map(o => (o.end - o.start) / 1e3).sum
    sums("exec.task_wall_ratio") = sums.getOrElse("exec.run_s", 0.0) / wall
    sums("exec.cpu_wall_ratio") = sums.getOrElse("exec.cpu_s", 0.0) / wall
    for (o <- ops; m <- o.attrs.keys if m.startsWith("module.")) {
      val k = m.stripPrefix("module.") + ".self_s"
      sums(k) = sums.getOrElse(k, 0.0) + o.attrs.getOrElse("self_s", 0.0)
    }
    val gens = ops.flatMap(_.attrs.get("index.generations"))
    if (gens.nonEmpty) sums("index.generations") = gens.sum / gens.size
    def ms(name: String) = ops.filter(_.name == name).map(o => (o.end - o.start).toDouble)
    for (n <- Seq("AnnIndex.probe", "AnnIndex.probeAdc", "TextIndex.probe") if ms(n).nonEmpty)
      sums(s"${n}_p50_ms") = median(ms(n))
    for (n <- Seq("AnnIndex.upsert", "TextIndex.upsert") if ms(n).nonEmpty)
      sums(s"${n}_ms") = median(ms(n))
    sums.toSeq
  }
}
