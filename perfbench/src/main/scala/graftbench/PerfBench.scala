package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Sessions, SparkEntry}
import graft.operators.{DeriveColumns, FuzzyRecode, Validation}
import graft.pipeline.ReferencePipeline
import graft.sources.{AtomicSwap, Sinks}

/** JVM side of the benchmark; `perfbench/run.py` builds and launches it
  * and turns the result file into metrics.
  *
  * One invocation: start the session three times (setup), run the
  * workload's correctness pass (untimed and concurrent; it also warms the
  * JIT and the codegen cache), then timed passes until `--seconds` have
  * elapsed and at least `--min-passes` are done. With `--trace 1` passes
  * alternate untraced / traced and both start and end untraced, so every
  * traced pass sits between two untraced ones: the tracing overhead is
  * measured in the same process and a linear warm-up trend across passes
  * cancels out of it. Everything lands in `<work>/result.json`.
  */
object PerfBench {
  final case class Op(pass: Int, name: String, seconds: Double, rows: Long, error: String)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs one operation; a throw becomes a failed Op, never a crash. */
  def timedOp(pass: Int, name: String)(body: => Long): Op = {
    val t0 = System.nanoTime()
    try { val n = body; Op(pass, name, secs(t0), n, null) }
    catch { case e: Throwable => Op(pass, name, secs(t0), -1L, s"${e.getClass.getName}: ${e.getMessage}") }
  }

  val CheckThreads = 4

  /** `f` over `xs` on `threads` threads, results in input order. Only the
    * untimed correctness pass runs concurrently: its cold codegen and JIT
    * work overlaps instead of queueing on one driver thread. */
  def inParallel[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] =
    if (threads <= 1) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try xs.map(x => pool.submit(() => f(x))).map(_.get())
      finally pool.shutdown()
    }

  def session(cpus: Int, work: String): SparkSession = {
    val s = Sessions.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap still in use after a full collection: the lowest of three
    * readings, each taken right after two collections with a pause
    * between them (the first enqueues the weak references that Spark's
    * ContextCleaner releases, the second frees what they held). Unpersist
    * is asynchronous and a young collection racing the read can report
    * old-generation garbage, so single readings run high; the lowest is
    * what stays live. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Bytes read so far through Hadoop's local file system, all threads:
    * what file scans and schema reads take from disk. Cached blocks and
    * shuffle files are read outside it, so they do not count. */
  def fileBytesRead(): Long =
    Option(FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(st => Option(st.getLong("bytesRead"))).map(_.longValue).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val cpus = a("cpus").toInt
    val trace = a("trace") == "1"
    val jvmStartS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val starts = ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (_ <- 0 until 3) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      starts += secs(t0)
    }
    val tracer = new Tracer(spark.sparkContext)
    val wl: Workload = a("workload") match {
      case "pipeline_publish" => new PipelinePublish(spark, a("corpus"), work, tracer)
      case _ => new Catalog(spark, a("sf"), a("members").split(",").toSeq, work, tracer)
    }
    val tc = System.nanoTime()
    val check = wl.check()
    val checkS = secs(tc)
    val t0 = System.nanoTime()
    val passWall = ArrayBuffer[Double]()
    val passTraced = ArrayBuffer[Boolean]()
    val ops = ArrayBuffer[Op]()
    val heap = ArrayBuffer[Double]()
    val minPasses = a("min-passes").toInt
    var k = 0
    val passRead = ArrayBuffer[Long]()
    while (k < minPasses || secs(t0) < a("seconds").toDouble || (trace && k % 2 == 0)) {
      val traced = trace && k % 2 == 1
      tracer.beginPass(k, traced)
      val r0 = fileBytesRead()
      val tp = System.nanoTime()
      val passOps = wl.pass(k)
      passWall += secs(tp)
      tracer.endPass()
      passRead += fileBytesRead() - r0
      passTraced += traced
      ops ++= passOps
      spark.catalog.clearCache()
      heap += liveHeapMb()
      k += 1
    }
    val result = Map(
      "jvm_start_s" -> jvmStartS, "session_start_s" -> starts.toSeq, "check_s" -> checkS,
      "check" -> check, "pass_wall_s" -> passWall.toSeq, "pass_traced" -> passTraced.toSeq,
      "pass_read_bytes" -> passRead.toSeq,
      "ops" -> ops.map(o => Seq(o.pass, o.name, o.seconds, o.rows, o.error)).toSeq,
      "heap_mb" -> heap.toSeq, "cpus" -> cpus,
      "trace" -> (if (trace) tracer.toRecord else null))
    Files.writeString(Paths.get(work, "result.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result))
    spark.stop()
  }
}

trait Workload {
  /** Untimed correctness pass; returns what `run.py` checks. */
  def check(): Map[String, Any]
  /** One timed pass: one closed-loop call after another. A thrown
    * operation is recorded with its error, not rethrown. */
  def pass(k: Int): Seq[PerfBench.Op]
}

/** A fixed list of catalog queries on the read-only sf tables, run in the
  * order `run.py` derives from the seed. Each operation is one query:
  * build the DataFrame, plan it, then materialize every output row. The
  * correctness pass writes each result for `run.py`'s oracle check. */
final class Catalog(spark: SparkSession, sf: String, members: Seq[String], work: String,
                    tr: Tracer) extends Workload {
  private val fns = members.map(m => m -> SparkEntry.queries.getOrElse(m,
    throw new IllegalArgumentException(s"unknown catalog query $m")))

  def check(): Map[String, Any] = {
    val done = PerfBench.inParallel(fns.sortBy(_._1), PerfBench.CheckThreads) { case (q, fn) =>
      PerfBench.timedOp(-1, q) {
        fn(spark, sf).coalesce(1).write.mode("overwrite").parquet(s"$work/check/$q")
        -1L
      }
    }
    Map("oracle_sql" -> members.map(q => q -> SparkEntry.oracleSql.get(q).orNull).toMap,
      "errors" -> done.filter(_.error != null).map(o => o.name -> o.error).toMap)
  }

  def pass(k: Int): Seq[PerfBench.Op] = fns.map { case (q, fn) =>
    PerfBench.timedOp(k, q) {
      tr.op(q) {
        val df = tr.span("build")(fn(spark, sf))
        tr.span("plan")(df.queryExecution.executedPlan)
        tr.span("exec")(df.queryExecution.toRdd.count())
      }
    }
  }
}

/** `ReferencePipeline.run` over the generated raw-session corpus with the
  * full feature set, then every table published to a fresh directory.
  * Each operation is one published table (hygiene, parquet write, swap).
  * Published tables stay on disk: `run.py` checks their planted counts
  * and digests after the JVM exits. */
final class PipelinePublish(spark: SparkSession, corpus: String, work: String, tr: Tracer)
    extends Workload {
  private def publish(k: Int, dir: String, threads: Int): Seq[PerfBench.Op] = {
    val (out, tables) = tr.op("run") {
      val raw = spark.read.text(corpus).withColumnRenamed("value", "json")
      val out = tr.span("run")(PipelinePublish.run(raw))
      (out, tr.span("tableList")(ReferencePipeline.tableList(out)))
    }
    val ops = PerfBench.inParallel(tables, threads) { case (name, df) =>
      PerfBench.timedOp(k, name) {
        tr.op(name) {
          val target = s"$dir/$name"
          val clean = tr.span("hygiene")(ReferencePipeline.hygiene(df))
          tr.span("write")(Sinks.parquet(clean, s"$target.tmp"))
          tr.span("swap")(AtomicSwap.replace(target, s"$target.tmp"))
        }
        -1L
      }
    }
    out.shared.foreach(_.unpersist())
    ops
  }

  def check(): Map[String, Any] = {
    val ops = publish(-1, s"$work/publish/check", PerfBench.CheckThreads)
    Map("errors" -> ops.filter(_.error != null).map(o => o.name -> o.error).toMap)
  }

  def pass(k: Int): Seq[PerfBench.Op] = publish(k, s"$work/publish/pass-$k", threads = 1)
}

object PipelinePublish {
  /** The feature set of the golden-file composition test: MCL discovery,
    * fuzzy recode, typed validation, outcome flags, day-N vitals, neolab
    * and the dataset card, with the shared dedup persisted for publish. */
  def run(raw: DataFrame): ReferencePipeline.Outputs = ReferencePipeline.run(raw, "json",
    keys = Seq("Temp", "NeoTreeOutcome", "BirthWeight", "Gestation", "OFC",
      "Org1", "OtherOrg1"),
    repeatableKeys = Seq("Temp", "Diag"),
    fuzzyRules = Seq(("Org1", "OtherOrg1", Seq(
      FuzzyRecode.Rule(Seq("klesiella", "klebsiella", "kleb"), "KLS", "Klebsiella sp.")))),
    fieldInfo = Seq(Validation.FieldInfo("Temp", dataType = "number",
      optional = false, minValue = Some(30.0), maxValue = Some(43.0))),
    outcomeFlags = DeriveColumns.referenceOutcomeFlags(
      outcomeLabel = col("NeoTreeOutcome_label"),
      birthWeight = col("birth_weight_value"),
      thermia = lit(null).cast("string")),
    vitalsTables = Seq("vitals"),
    neolabScript = Some("lab"), neolabAsOf = lit("2026-01-14"),
    cardNumericCols = Seq("los_days"), cardCategoricalCols = Seq("facility"),
    persistShared = true)
}
