package graftbench

import java.io.{BufferedReader, OutputStream, PrintStream, StringReader}
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.repl.SqlRepl

/** One workload: a fixed list of steps that make one pass, driven
  * through graft's public functions only. */
trait Workload {
  def steps: IndexedSeq[String]
  /** Name of the span around one timed step. */
  def spanName(step: Int): String
  /** Register the inputs (timed as part of set-up). */
  def register(spark: SparkSession, t: Tracer): Unit
  /** One timed step; `tag` names this sample's outputs. */
  def run(spark: SparkSession, step: Int, tag: String, t: Tracer): Unit
  /** Untimed, after a step: record what the output checks need. */
  def after(spark: SparkSession, step: Int, tag: String): Unit = ()
  /** Whether the clean-up between samples may drop cached tables. */
  def clearsCache: Boolean = false
  /** Passes measured even when the run time is used up sooner. */
  def minPasses: Int = 1
  /** Untimed warm-up passes; the first one's outputs are checked. */
  def warmupPasses: Int = 1
}

/** `SqlRepl.runCli -f … -s Sheet1` loads the workbook as `excel_rows`
  * (with the key-uniqueness check); each step is one `runLine`. */
final class ReplWorkload(workbook: String, out: String, script: IndexedSeq[String])
    extends Workload {
  private val devNull = new PrintStream(OutputStream.nullOutputStream())
  private var repl: SqlRepl = _
  private var rendered = ""

  val steps: IndexedSeq[String] = script.indices.map(i => f"stmt$i%02d")
  def spanName(step: Int): String = "repl.runLine"
  // at least 40 statements, enough for a p75 with 10 samples beyond it
  override def minPasses: Int = 4

  def register(spark: SparkSession, t: Tracer): Unit = {
    t.span("repl.runCli", step = "load") {
      SqlRepl.runCli(Array("-f", workbook, "-s", "Sheet1"), spark,
        new BufferedReader(new StringReader("")), devNull)
    }
    repl = new SqlRepl(spark, devNull)
  }

  def run(spark: SparkSession, step: Int, tag: String, t: Tracer): Unit =
    rendered = repl.runLine(script(step).replace("{out}", s"$out/ops/$tag.csv"))

  override def after(spark: SparkSession, step: Int, tag: String): Unit =
    Files.writeString(Paths.get(s"$out/ops/$tag.txt"), rendered)
}

/** Catalog queries from `SparkEntry.queries`, each written to the
  * `noop` sink; the untimed warm-up pass writes parquet instead, for the
  * output check. */
final class CatalogWorkload(dataDir: String, out: String, names: IndexedSeq[String])
    extends Workload {
  private val fns = graft.SparkEntry.queries
  val steps: IndexedSeq[String] = names
  def spanName(step: Int): String = "queries.query"
  override def clearsCache: Boolean = true
  // three samples per query give a median and a minimum that one slow
  // sample does not set
  override def minPasses: Int = 3
  // the JIT keeps speeding the queries up over the first passes
  override def warmupPasses: Int = 2

  def register(spark: SparkSession, t: Tracer): Unit =
    names.foreach(n => require(fns.contains(n), s"unknown catalog query $n"))

  def run(spark: SparkSession, step: Int, tag: String, t: Tracer): Unit = {
    val df = t.span("queries.build") { fns(names(step))(spark, dataDir) }
    t.span("queries.exec") {
      if (tag.startsWith("warmup0-"))
        df.write.mode("overwrite").parquet(s"$out/check/${names(step)}")
      else df.write.format("noop").mode("overwrite").save()
    }
  }
}

/** The benchmark inside the JVM: K set-ups (session and inputs), one
  * warm-up pass, then whole passes until the run time is used, with
  * clean-up between samples outside the timed region. Writes
  * `result.json` and, in trace mode, `trace.jsonl` into `--out`. */
object Harness {

  private def session(threads: Int, out: String): SparkSession = {
    val s = GraftSession.tune(SparkSession.builder().master(s"local[$threads]"))
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .appName("graft-perfbench")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val out = o("out")
    val threads = o("threads").toInt
    val seconds = o("seconds").toDouble
    val setups = o("setups").toInt
    val tracer = new Tracer(o("trace") == "1")
    Files.createDirectories(Paths.get(out, "ops"))
    val w: Workload = o("workload") match {
      case "xlsx_repl" =>
        new ReplWorkload(o("fixture"), out,
          Files.readAllLines(Paths.get(o("script"))).asScala.toIndexedSeq.filter(_.nonEmpty))
      case "catalog_sf01" => new CatalogWorkload(o("fixture"), out, o("queries").split(",").toIndexedSeq)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val records = ArrayBuffer[String]()
    val setupRecs = ArrayBuffer[String]()
    var spark: SparkSession = null
    var keep = Set.empty[Int]

    /** Clean-up between samples: RDDs persisted since set-up, the
      * cache where the workload owns nothing there, then a GC. */
    def cleanup(): Unit = {
      if (w.clearsCache) spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep(id)) rdd.unpersist(blocking = true)
      }
      System.gc()
    }

    def step(i: Int, tag: String, op: Int): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { tracer.span(w.spanName(i), op = op, step = w.steps(i)) { w.run(spark, i, tag, tracer) }; None }
        catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      ((System.nanoTime() - t0) / 1e9, err)
    }

    // Set-up is repeated `setups` times (session and inputs; the median
    // is reported), then untimed warm-up passes follow; the first is checked.
    for (k <- 0 until setups) {
      if (spark != null) { tracer.drain(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(threads, out)
      tracer.attach(spark.sparkContext)
      val t1 = System.nanoTime()
      w.register(spark, tracer)
      val t2 = System.nanoTime()
      setupRecs += Json.obj(Seq(
        "session_s" -> Json.num((t1 - t0) / 1e9), "register_s" -> Json.num((t2 - t1) / 1e9)))
    }
    keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val tw = System.nanoTime()
    val warmupErrors = (0 until w.warmupPasses).flatMap { k =>
      w.steps.indices.flatMap { i =>
        val (_, err) = step(i, s"warmup$k-${w.steps(i)}", op = -1)
        cleanup()
        err.map(e => s"${w.steps(i)}: $e")
      }
    }
    val warmupS = (System.nanoTime() - tw) / 1e9

    val sc = spark.sparkContext
    val start = System.nanoTime()
    var pass = 0
    var op = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    // trace mode alternates untraced and traced passes, starting and
    // ending untraced so the JIT's warming does not favour either side
    val minPasses = if (tracer.enabled) math.max(3, w.minPasses) else w.minPasses
    while (pass < minPasses || elapsed < seconds || (tracer.enabled && pass % 2 == 0)) {
      tracer.setActive(pass % 2 == 1)
      for (i <- w.steps.indices) {
        val tag = f"p$pass%03d-${w.steps(i)}"
        val (wall, stepErr) = step(i, tag, op)
        val storageMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
        val persisted = sc.getPersistentRDDs.keySet.count(id => !keep(id))
        val err =
          if (stepErr.nonEmpty) stepErr
          else try { w.after(spark, i, tag); None }
          catch { case e: Throwable => Some(s"recording outputs: $e") }
        cleanup()
        records += Json.obj(Seq(
          "pass" -> pass.toString, "step" -> i.toString, "tag" -> Json.str(tag),
          "op" -> op.toString, "wall_s" -> Json.num(wall), "traced" -> tracer.active.toString,
          "error" -> err.fold("null")(Json.str), "storage_mb" -> Json.num(storageMb),
          "leftover_rdds" -> persisted.toString))
        op += 1
      }
      pass += 1
    }
    tracer.setActive(true)
    tracer.drain()
    if (tracer.enabled)
      Files.write(Paths.get(out, "trace.jsonl"), tracer.dump().asJava)
    Files.writeString(Paths.get(out, "result.json"), Json.obj(Seq(
      "spark_version" -> Json.str(spark.version),
      "heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "steps" -> Json.arr(w.steps.map(Json.str)),
      "setups" -> Json.arr(setupRecs),
      "warmup_s" -> Json.num(warmupS),
      "warmup_errors" -> Json.arr(warmupErrors.map(Json.str)),
      "samples" -> Json.arr(records))))
    spark.stop()
    sys.exit(0)
  }
}
