package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{RipSession, SparkEntry, Tables}

/** One closed-loop workload run in its own JVM, through the program's
  * public entry points only (`RipSession.local`, `Tables.table`,
  * `SparkEntry.queries`, `SparkEntry.oracleSql`).
  *
  * Phases, in order:
  *   1. set-up, timed from JVM start: build a session and load the base
  *      tables (cached and counted when `cache=1`);
  *   2. one warm-up pass over the query list in list order, which writes
  *      each query's output to parquet under `dump/warmup` while frames
  *      and models are still being built;
  *   3. `settle` untimed passes, so the timed passes start from a JIT
  *      state that no longer drifts from one pass to the next;
  *   4. timed passes until `seconds` have elapsed, always whole passes.
  *      Settling and timed passes each run in their own seed-fixed order,
  *      and every query in them ends in a write of all its columns to
  *      Spark's `noop` sink, so nothing is pruned;
  *   5. one untimed pass in list order that writes each query's output
  *      to parquet under `dump/final`, through the same registry hits and
  *      memos the timed passes used. Both dumps (plus every query's oracle
  *      SQL) are checked against DuckDB outside the JVM.
  *
  * With `trace=1`, spans from this code (set-up, session build, table
  * load, query build, action) and Spark's job/stage events and action
  * planning phases go to `trace.json`. Timed passes alternate untraced
  * and traced so the tracing overhead is measured in the same run.
  *
  * Arguments are `key=value`; results go to `<out>/result.json`.
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument is not key=value: $a")
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    val data = args("data")
    val out = args("out")
    val cpus = args("cpus").toInt
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cache = args("cache") == "1"
    val cold = args("cold") == "1"
    val settle = args("settle").toInt
    val tables = args("tables").split(',').toSeq
    val names = args("queries").split(',').toSeq
    val registry = SparkEntry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    Files.createDirectories(Paths.get(out))

    val tr = new Tracer(traced)
    val rng = new scala.util.Random(seed)

    // ---- 1. set-up ----------------------------------------------------
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    tr.open("setup", "")
    val spark = tr.span("RipSession.build", "") {
      val s = RipSession.local(cpus)
      // dictionary-sized single-partition windows are deliberate in the
      // program; their planner warning would flood stderr
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        org.apache.logging.log4j.Level.ERROR)
      s
    }
    val t1 = System.nanoTime()
    tr.attach(spark)
    tr.span("Tables.load", "") {
      tables.foreach { n =>
        tr.span("table", n) {
          val df = Tables.table(spark, data, n)
          if (cache) { df.cache(); df.count() } else df.schema
        }
      }
    }
    tr.drain(spark)
    tr.close()
    val t2 = System.nanoTime()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sessionS = (t1 - t0) / 1e9
    val loadS = (t2 - t1) / 1e9

    // ---- 2.-5. warm-up, settling, timed and dump passes -----------------
    var storagePeak = 0L
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    case class Exec(q: String, secs: Double, ok: Boolean)

    val dumpRoot = Paths.get(out, "dump")

    def runQuery(q: String, dump: Option[java.nio.file.Path]): Exec = {
      if (cold) {
        clearProgramCaches()
        spark.catalog.clearCache()
      }
      tr.open("query", q)
      val t0 = System.nanoTime()
      val ok = try {
        val df = tr.span("build", q)(registry(q)(spark, data))
        tr.span("action", q) {
          dump match {
            case Some(dir) => df.write.mode("overwrite").parquet(dir.resolve(q).toString)
            case None => df.write.format("noop").mode("overwrite").save()
          }
        }
        true
      } catch {
        case NonFatal(e) =>
          errors.getOrElseUpdate(q, s"${e.getClass.getName}: ${e.getMessage}")
          false
      }
      val secs = (System.nanoTime() - t0) / 1e9
      tr.close()
      tr.drain(spark)
      storagePeak = math.max(storagePeak, storageBytes(spark))
      Exec(q, secs, ok)
    }

    def runPass(kind: String, pass: Int, order: Seq[String],
                dump: Option[java.nio.file.Path] = None): (Double, Seq[Exec]) = {
      tr.open(kind, pass.toString)
      val t0 = System.nanoTime()
      val execs = order.map(runQuery(_, dump))
      val wall = (System.nanoTime() - t0) / 1e9
      tr.close()
      (wall, execs)
    }

    val (warmupS, warmExecs) = runPass("warmup", -1, names,
      Some(dumpRoot.resolve("warmup")))
    for (i <- 0 until settle) runPass("settle", i, rng.shuffle(names))
    // the loop only measures whole passes: it stops at the first pass
    // boundary after `seconds`. A traced run alternates untraced and
    // traced passes as U T T U ..., which cancels a linear warm-up drift
    // in the overhead estimate, and runs at least one such group of four.
    val passes = ArrayBuffer.empty[(Boolean, Double, Seq[Exec])]
    val loop0 = System.nanoTime()
    def needMore: Boolean =
      (System.nanoTime() - loop0) / 1e9 < seconds ||
        passes.isEmpty || (traced && passes.size < 4)
    while (needMore) {
      val on = traced && (passes.size % 4 == 1 || passes.size % 4 == 2)
      tr.enabled(spark, on)
      System.gc()
      val (wall, execs) = runPass(if (on) "pass_traced" else "pass", passes.size,
        rng.shuffle(names))
      passes += ((on, wall, execs))
    }

    tr.enabled(spark, false)
    runPass("dump", -1, names, Some(dumpRoot.resolve("final")))

    val oracle = SparkEntry.oracleSql
    val oracleJson = Json.obj(names.flatMap(q =>
      oracle.get(q).map(sql => q -> Json.str(sql)))).getBytes(StandardCharsets.UTF_8)
    for (d <- Seq("warmup", "final")) {
      Files.createDirectories(dumpRoot.resolve(d))
      Files.write(dumpRoot.resolve(d).resolve("oracle_sql.json"), oracleJson)
    }

    // ---- result ----------------------------------------------------------
    def execsJson(es: Seq[Exec]): String = Json.arr(es.map(e => Json.obj(Seq(
      "q" -> Json.str(e.q), "s" -> Json.num(e.secs), "ok" -> e.ok.toString))))
    val result = Json.obj(Seq(
      "workload" -> Json.str(args("workload")),
      "setup_s" -> Json.num(setupS),
      "session_s" -> Json.num(sessionS),
      "load_s" -> Json.num(loadS),
      "warmup_s" -> Json.num(warmupS),
      "warmup" -> execsJson(warmExecs),
      "passes" -> Json.arr(passes.toSeq.map { case (on, wall, execs) =>
        Json.obj(Seq("traced" -> on.toString, "wall_s" -> Json.num(wall),
          "execs" -> execsJson(execs)))
      }),
      "storage_peak_bytes" -> storagePeak.toString,
      "errors" -> Json.obj(errors.toSeq.map { case (k, v) => k -> Json.str(v) })))
    Files.write(Paths.get(out, "result.json"), result.getBytes(StandardCharsets.UTF_8))
    if (traced) tr.write(Paths.get(out, "trace.json"))
    spark.stop()
  }

  /** Every in-process cache the program exposes a public clear for. */
  def clearProgramCaches(): Unit = {
    graft.operators.Dedup.clearDedupCaches()
    graft.operators.Curate.clearClassifierMemo()
    graft.operators.Similarity.clearKmeansMemo()
    graft.functions.Bpe.clearMergesMemo()
  }

  /** Block-manager bytes (memory plus disk) held by persisted RDDs:
    * cached base tables and registry frames. */
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

/** Span recorder plus Spark listeners for the traced run. Spans nest
  * through an explicit stack (the harness is single-threaded); times are
  * epoch nanoseconds so they line up with Spark's epoch-millisecond
  * event times. When tracing is off every call is a no-op.
  */
final class Tracer(on: Boolean) {
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now: Long = epochNs + System.nanoTime()

  private final class Span(val id: Int, val name: String, val qid: String,
                           val parent: Int, val start: Long) {
    var end: Long = -1L
    var attrs: Seq[(String, String)] = Nil
  }
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  private def counters: (Long, Long, Long) = (
    graft.operators.Dedup.registryHits, graft.operators.Dedup.registryMisses,
    Tracer.localBytesRead)
  private var opened: Map[Int, (Long, Long, Long)] = Map.empty

  def open(name: String, qid: String): Unit = if (on) {
    val s = new Span(spans.size, name, qid, stack.headOption.fold(-1)(_.id), now)
    spans += s
    stack = s :: stack
    opened += s.id -> counters
  }

  def close(): Unit = if (on) {
    val s = stack.head
    stack = stack.tail
    s.end = now
    val (h0, m0, b0) = opened(s.id)
    val (h1, m1, b1) = counters
    opened -= s.id
    s.attrs = Seq("frame_hits" -> (h1 - h0).toString,
      "frame_misses" -> (m1 - m0).toString, "fs_read_bytes" -> (b1 - b0).toString)
  }

  def span[T](name: String, qid: String)(body: => T): T = {
    open(name, qid)
    try body finally close()
  }

  private val jobs = ArrayBuffer.empty[String]
  private val stages = ArrayBuffer.empty[String]
  private val phases = ArrayBuffer.empty[String]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs += Json.obj(Seq("id" -> e.jobId.toString, "start_ms" -> e.time.toString,
        "stages" -> Json.arr(e.stageIds.map(_.toString))))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val fields = Seq(
        "id" -> i.stageId.toString, "attempt" -> i.attemptNumber().toString,
        "submit_ms" -> i.submissionTime.getOrElse(-1L).toString,
        "complete_ms" -> i.completionTime.getOrElse(-1L).toString,
        "tasks" -> i.numTasks.toString) ++ (if (m == null) Nil else Seq(
        "cpu_ns" -> m.executorCpuTime.toString,
        "gc_ms" -> m.jvmGCTime.toString,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toString,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toString,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toString))
      stages.synchronized(stages += Json.obj(fields))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
      val ps = qe.tracker.phases.toSeq.sortBy(_._1).map { case (k, p) =>
        k -> Json.arr(Seq(p.startTimeMs.toString, p.endTimeMs.toString))
      }
      phases.synchronized(phases += Json.obj(Seq("func" -> Json.str(func),
        "ok" -> ok.toString) ++ ps))
    }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe, ok = false)
  }

  private var listening = false

  /** Attach the listeners to the session once it is built. */
  def attach(spark: SparkSession): Unit = enabled(spark, on)

  /** Switch the Spark listeners on or off (spans stay on while tracing). */
  def enabled(spark: SparkSession, want: Boolean): Unit = if (want != listening) {
    if (want) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
    } else {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }
    listening = want
  }

  /** Wait until the listener bus has delivered every posted event, so
    * events land before the next span opens. The bus's drain method is
    * package-private in source but public in bytecode. */
  def drain(spark: SparkSession): Unit = if (listening) {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .foreach(_.invoke(bus))
  }

  def write(path: java.nio.file.Path): Unit = {
    val sj = spans.toSeq.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "qid" -> Json.str(s.qid), "parent" -> s.parent.toString,
        "start_ns" -> s.start.toString, "end_ns" -> s.end.toString) ++ s.attrs)
    }
    val body = Json.obj(Seq("spans" -> Json.arr(sj),
      "jobs" -> jobs.synchronized(Json.arr(jobs.toSeq)),
      "stages" -> stages.synchronized(Json.arr(stages.toSeq)),
      "phases" -> phases.synchronized(Json.arr(phases.toSeq))))
    Files.write(path, body.getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** Bytes read through Hadoop's local file system in this JVM: the
    * parquet scans behind `Tables.table` (shuffle and cached-block reads
    * do not go through it). */
  def localBytesRead: Long = {
    val it = org.apache.hadoop.fs.FileSystem.getAllStatistics.iterator()
    var n = 0L
    while (it.hasNext) {
      val s = it.next()
      if (s.getScheme == "file") n += s.getBytesRead
    }
    n
  }
}

/** Just enough JSON writing for the result and trace files. */
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
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
