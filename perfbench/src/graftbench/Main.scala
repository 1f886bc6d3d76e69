package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}
import graft.analysis.Engagement
import graft.operators.{ColumnView, Snapshots}
import graft.sources.{Sources, UuidTable}

/** The benchmark's JVM side: one closed-loop client over graft's public entry points.
  *
  * Modes (the Python harness `perfbench/run.py` chooses them):
  *   - `run`: set up (then print `@ready`), one cold pass, the output
  *     checks, and warm passes until `--seconds` have elapsed; raw timings
  *     and (with `--trace 1`) listener records go to `<work>/result.json`.
  *   - `oracle-sql`: write `SparkEntry.oracleSql` for `--members` to
  *     `<work>/oracle_sql.json` (used when regenerating stored answers).
  *
  * Every timed operation ends in the `noop` sink, which computes every
  * output row and column; `.count()` would let Catalyst prune columns.
  */
object Main {

  final case class Conf(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def list(k: String): Seq[String] = kv.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
  }

  private def now(): Double = System.nanoTime() / 1e9
  private def epochMs(): Double = System.currentTimeMillis().toDouble

  def main(argv: Array[String]): Unit = {
    val conf = Conf(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val work = conf("work")
    new File(work).mkdirs()
    conf("mode") match {
      case "run" => new Run(conf).execute()
      case "oracle-sql" =>
        val sql = SparkEntry.oracleSql
        val body = conf.list("members").map(m => Json.str(m) + ":" + Json.str(sql(m))).mkString("{", ",", "}")
        Files.writeString(Paths.get(work, "oracle_sql.json"), body)
      case m => sys.error(s"unknown mode $m")
    }
  }

  final case class Setup(spark: SparkSession, sessionS: Double, catalogS: Double)

  /** The ready state: session built and the GraftSession schema and
    * row-count catalog warm for every table the workload reads. */
  def setup(conf: Conf): Setup = {
    val t0 = now()
    val cores = conf.int("cores")
    val work = conf("work")
    val spark = GraftSession.builder(s"local[$cores]", cores, GraftSession.CpuDenseMaxPartitionBytes)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t1 = now()
    conf.list("tables").foreach { t =>
      GraftSession.table(spark, conf("data"), t)
      GraftSession.rowCount(spark, conf("data"), t)
    }
    Setup(spark, t1 - t0, now() - t1)
  }

  /** One timed operation. Times are epoch milliseconds (the clock Spark's
    * listener events use), so spans from both sides line up. */
  final case class Op(pass: Int, name: String, kind: String, group: String,
                      startMs: Double, constructEndMs: Double, endMs: Double,
                      seconds: Double, error: Option[String], cacheMb: Double,
                      framePhases: Seq[Map[String, (Long, Long)]])

  final case class Pass(pass: Int, traced: Boolean, seconds: Double, extra: Map[String, Double])

  final case class Check(name: String, ok: Boolean, message: String, startMs: Double, endMs: Double)

  final class Run(conf: Conf) {
    private val workload = conf("workload")
    private val seed = conf("seed").toLong
    private val traceMode = conf.int("trace") == 1
    private val work = conf("work")
    private val data = conf("data")
    private val members = conf.list("members")
    private val ops = mutable.ArrayBuffer.empty[Op]
    private val passes = mutable.ArrayBuffer.empty[Pass]
    private val checks = mutable.ArrayBuffer.empty[Check]
    private val recorder = new Recorder
    private var spark: SparkSession = _
    private var opCounter = 0
    private val phaseS = mutable.LinkedHashMap.empty[String, Double]

    def execute(): Unit = {
      System.setProperty("graft.scratch.root", s"$work/scratch")
      new File(s"$work/scratch").mkdirs()
      val st = setup(conf)
      spark = st.spark
      println("@ready")
      System.out.flush()
      val ingest = if (workload == "ingest_sync") Some(new Ingest) else None
      val tPrep = now()
      ingest.foreach(_.prepare())
      phaseS("prepare_s") = now() - tPrep
      val (runPass, afterPass): ((Int, Boolean) => Unit, Int => Map[String, Double]) = ingest match {
        case Some(in) => (in.pass, in.afterPass)
        case None => (registryPass, _ => Map.empty)
      }
      // Pass 0 is the cold pass. The output checks run next, untimed: they
      // execute the same code once more, so the warm passes that follow
      // start past most of the JIT warm-up. Warm passes then run until
      // --seconds have elapsed, and at least --min-warm times. A traced run
      // mixes traced and untraced warm passes so the recorder's own cost can
      // be reported beside its numbers. Warm passes keep getting faster as
      // the JIT warms up, so the two sides take turns in ABBA order (traced,
      // untraced, untraced, traced, ...), and the seed's parity picks which
      // side is A: neither side always runs earlier on that curve.
      timedPass(0, traceMode, runPass, afterPass)
      val tCheck = now()
      ingest match {
        case Some(in) => in.checkReads()
        case None => registryChecks()
      }
      phaseS("check_s") = now() - tCheck
      val warmStart = now()
      var p = 1
      while (p <= conf.int("min-warm") || (now() - warmStart < conf.int("seconds") && p <= 200)) {
        val a = (p - 1) % 4 == 0 || (p - 1) % 4 == 3
        timedPass(p, traceMode && a != (Math.floorMod(seed, 2L) == 1L), runPass, afterPass)
        p += 1
      }
      ingest.foreach(_.passChecks())
      val heapPeakMb = heapPeak()
      spark.stop() // drains the listener bus, so every event is recorded
      writeResult(st, heapPeakMb)
    }

    /** Times `body`, the pass's operations. `after` runs outside the timed
      * region and returns figures about what the pass left behind. */
    private def timedPass(p: Int, traced: Boolean, body: (Int, Boolean) => Unit,
                          after: Int => Map[String, Double]): Unit = {
      if (traced) attach() else detach()
      val before = ops.length
      val t0 = now()
      body(p, traced)
      val secs = now() - t0
      passes += Pass(p, traced, secs, after(p))
      if (ops.length == before) sys.error(s"pass $p ran no operations")
    }

    private var attached = false
    private def attach(): Unit = if (!attached) {
      spark.sparkContext.addSparkListener(recorder)
      cls(spark).listenerManager.register(recorder)
      attached = true
    }
    private def detach(): Unit = if (attached) {
      spark.sparkContext.removeSparkListener(recorder)
      cls(spark).listenerManager.unregister(recorder)
      attached = false
    }
    private def cls(s: SparkSession) = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

    private def cacheMb(): Double =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

    /** Times `build` (construction) and `act` (the action) under a job
      * group, so listener records can be keyed back to this operation. */
    private def timeOp[T](p: Int, name: String, kind: String, traced: Boolean)
                         (build: => T)(act: T => Unit): Unit = {
      opCounter += 1
      val group = f"op-$opCounter%06d"
      val sc = spark.sparkContext
      sc.setJobGroup(group, s"$name pass $p", interruptOnCancel = false)
      val s0 = epochMs(); val n0 = now()
      var builtMs = Double.NaN
      var built: Option[T] = None
      val err =
        try {
          built = Some(build)
          builtMs = epochMs()
          act(built.get)
          None
        } catch { case NonFatal(e) => Some(message(e)) }
      val secs = now() - n0
      val end = epochMs()
      sc.clearJobGroup()
      // Catalyst phases the built DataFrames' own QueryExecutions ran (their
      // analysis happens while they are built, so no action reports it)
      val framePhases = if (!traced) Nil else built.toSeq.flatMap {
        case df: DataFrame => Seq(df)
        case dfs: Seq[_] => dfs.collect { case df: DataFrame => df }
        case _ => Nil
      }.map(df => Recorder.phases(df.queryExecution).filter { case (_, (a, _)) => a >= s0 && a <= end })
      val cache = if (traced) cacheMb() else 0.0
      Bridge.releaseShared()
      ops += Op(p, name, kind, group, s0, if (builtMs.isNaN) end else builtMs, end, secs, err, cache,
        framePhases)
    }

    private def message(e: Throwable): String = Option(e.getMessage).getOrElse(e.toString).take(400)

    private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    private def order(p: Int, xs: Seq[String]): Seq[String] =
      new scala.util.Random(seed * 1000003L + p).shuffle(xs)

    private def registryPass(p: Int, traced: Boolean): Unit =
      order(p, members).foreach(m => timeOp(p, m, "query", traced)(SparkEntry.queries(m)(spark, data))(noop))

    /** Outside the timed region: each member once more, written as parquet
      * for the harness to compare with the stored oracle answers. */
    private def registryChecks(): Unit = {
      if (traceMode) attach()
      members.sorted.foreach { m =>
        val s0 = epochMs()
        val sc = spark.sparkContext
        sc.setJobGroup(s"check-$m", s"$m check", interruptOnCancel = false)
        val err =
          try {
            SparkEntry.queries(m)(spark, data).write.mode("overwrite").parquet(s"$work/check/$m")
            None
          } catch { case NonFatal(e) => Some(message(e)) }
          finally { sc.clearJobGroup(); Bridge.releaseShared() }
        checks += Check(m, err.isEmpty, err.getOrElse(""), s0, epochMs())
      }
    }

    private def heapPeak(): Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
    }

    /** `ingest_sync`: the stage-1 write path over the landing batches the
      * harness cut from `events` (`<work>/landing/b*.parquet`, in delivery
      * order). Per batch: `syncIncremental` → `pseudonymize` →
      * `appendDeduped` into a parquet store (one timed operation), then a
      * read over the store (a second timed operation). */
    final class Ingest {
      private val landing = s"$work/landing"
      private val uuidPath = s"$work/uuid_table.parquet"
      private val types = Seq("click", "view", "purchase", "signup", "error")
      private var batches: Seq[(String, Long)] = Nil  // (landing table, rows)
      // reads alternate between the two aggregate views of the store
      private def statsRead(b: Int): Boolean = b % 2 == 0
      private var eventsBytesPerRow = 0.0
      private val passFp = mutable.LinkedHashMap.empty[Int, (Long, Long, String)]
      private var passStore = ""

      def prepare(): Unit = {
        val n = GraftSession.rowCount(spark, data, "events")
        eventsBytesPerRow = new File(s"$data/events.parquet").length.toDouble / n
        batches = Option(new File(landing).listFiles()).getOrElse(Array.empty[File])
          .map(_.getName).filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted.toSeq
          .map(b => (b, GraftSession.rowCount(spark, landing, b)))
        if (batches.isEmpty) sys.error(s"no landing batches in $landing")
        // the mapping covers the participants of the first batch; later
        // newcomers take the computed-uuid path of `pseudonymize`
        UuidTable.build(GraftSession.table(spark, landing, batches.head._1), "user_id")
          .write.mode("overwrite").parquet(uuidPath)
      }

      private val oneShotPath = s"$work/oneshot.parquet"
      private def uuidTable = spark.read.parquet(uuidPath)

      /** Order-independent content fingerprint: row count, distinct
        * event_ids and the exact sum of per-row hashes over every column. */
      private def fingerprint(df: DataFrame): (Long, Long, String) = {
        val cols = df.columns.sorted.map(col)
        val r = df.select(count(lit(1)), countDistinct(col("event_id")),
          sum(xxhash64(cols: _*).cast("decimal(38,0)")).cast("string")).head()
        (r.getLong(0), r.getLong(1), String.valueOf(r.getString(2)))
      }

      private def readFrames(store: String, statsRead: Boolean): Seq[DataFrame] = {
        val st = spark.read.parquet(store)
        Seq(Snapshots.latest(st, Seq(col("participant_uuid")), col("ts"), col("event_id")),
          if (statsRead) Engagement.stats(st, col("event_type"), col("participant_uuid"), col("value"))
          else ColumnView.participantView(st, "participant_uuid", "event_type", types, "value"))
      }

      private def storeFiles(store: String): Int =
        Option(new File(store).listFiles()).getOrElse(Array.empty[File])
          .count(f => f.getName.endsWith(".parquet"))

      def pass(p: Int, traced: Boolean): Unit = {
        passStore = s"$work/store/p$p"
        val cache = s"$work/cache/p$p"
        batches.zipWithIndex.foreach { case ((name, _), b) =>
          timeOp(p, s"sync_$name", "sync", traced)(GraftSession.table(spark, landing, name)) { df =>
            Sources.syncIncremental(spark, df, col("ts"), cache, "events") { slice =>
              Sources.appendDeduped(UuidTable.pseudonymize(slice, "user_id", uuidTable), passStore, "event_id")
            }
          }
          timeOp(p, s"read_$name", "read", traced)(readFrames(passStore, statsRead(b)))(_.foreach(noop))
        }
      }

      /** Untimed, after each pass: what the pass left in its store. */
      def afterPass(p: Int): Map[String, Double] =
        Map(
          "store_files" -> storeFiles(passStore).toDouble,
          "store_rows" -> passCheck(p).toDouble,
          "delivered_rows" -> batches.map(_._2).sum.toDouble,
          "events_bytes_per_row" -> eventsBytesPerRow)

      /** The store's fingerprint, compared with the one-shot load's in
        * [[passChecks]]. Earlier stores are removed. */
      private def passCheck(p: Int): Long = {
        val fp = fingerprint(spark.read.parquet(passStore))
        passFp(p) = fp
        val prev = new File(s"$work/store/p${p - 1}")
        if (prev.exists()) rmTree(prev)
        fp._1
      }

      private var expectedFp: Option[(Long, Long, String)] = None

      /** Untimed, after the cold pass. Builds the store a one-shot load of
        * every delivered row must produce, keyed with the UuidTable mapping
        * of every participant: a store with its fingerprint holds each event
        * once, with the user id replaced by that uuid. The cold pass's last
        * read, repeated over its store, must equal the same read over the
        * one-shot load. */
      def checkReads(): Unit = {
        if (traceMode) attach()
        val s0 = epochMs()
        spark.sparkContext.setJobGroup("check-reads", "ingest read check", interruptOnCancel = false)
        val problems =
          try {
            val events = GraftSession.table(spark, data, "events")
            UuidTable.pseudonymize(events.dropDuplicates("event_id"), "user_id",
              UuidTable.build(events, "user_id")).write.mode("overwrite").parquet(oneShotPath)
            expectedFp = Some(fingerprint(spark.read.parquet(oneShotPath)))
            val lastKind = statsRead(batches.length - 1)
            readFrames(passStore, lastKind).zip(readFrames(oneShotPath, lastKind)).zipWithIndex.flatMap {
              case ((x, y), i) =>
                val (a, b) = (x.collect().map(_.toString).sorted, y.collect().map(_.toString).sorted)
                if (a.sameElements(b)) None
                else Some(s"last read #$i: ${a.length} rows, ${b.length} over a one-shot load, contents differ")
            }
          } catch { case NonFatal(e) => Seq(message(e)) }
          finally spark.sparkContext.clearJobGroup()
        checks += Check("reads", problems.isEmpty, problems.mkString("; "), s0, epochMs())
      }

      /** Every pass's store equals the one-shot load; no event_id repeats. */
      def passChecks(): Unit = passFp.foreach { case (p, fp) =>
        val ok = expectedFp.contains(fp) && fp._1 == fp._2
        checks += Check(s"pass-$p", ok,
          if (ok) "" else s"(rows, distinct ids, hash sum) $fp, one-shot load $expectedFp", epochMs(), epochMs())
      }
    }

    private def rmTree(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
    }

    private def writeResult(st: Setup, heapPeakMb: Double): Unit = {
      import Json._
      val opsJ = ops.map { o =>
        obj("pass" -> num(o.pass), "name" -> str(o.name), "kind" -> str(o.kind),
          "group" -> str(o.group), "start_ms" -> num(o.startMs), "construct_end_ms" -> num(o.constructEndMs),
          "end_ms" -> num(o.endMs), "seconds" -> num(o.seconds),
          "error" -> o.error.map(str).getOrElse("null"), "cache_mb" -> num(o.cacheMb),
          "frame_phases" -> arr(o.framePhases.map(Recorder.phasesJson)))
      }
      val passesJ = passes.map { p =>
        obj((Seq("pass" -> num(p.pass), "traced" -> (if (p.traced) "true" else "false"),
          "seconds" -> num(p.seconds)) ++ p.extra.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }): _*)
      }
      val checksJ = checks.map { c =>
        obj("name" -> str(c.name), "ok" -> (if (c.ok) "true" else "false"), "message" -> str(c.message),
          "start_ms" -> num(c.startMs), "end_ms" -> num(c.endMs))
      }
      val body = obj(
        "workload" -> str(workload), "seed" -> num(seed.toDouble),
        "cores" -> num(conf.int("cores")),
        "setup_session_s" -> num(st.sessionS), "setup_catalog_s" -> num(st.catalogS),
        "heap_peak_mb" -> num(heapPeakMb),
        "phases_s" -> obj(phaseS.toSeq.map { case (k, v) => k -> num(v) }: _*),
        "ops" -> arr(opsJ.toSeq), "passes" -> arr(passesJ.toSeq), "checks" -> arr(checksJ.toSeq),
        "jobs" -> arr(recorder.jobsJson), "stages" -> arr(recorder.stagesJson),
        "executions" -> arr(recorder.executionsJson))
      Files.writeString(Paths.get(work, "result.json"), body)
    }
  }

  /** Listener-side recorder: jobs, stages (with task aggregates) and
    * Catalyst phase times, each keyed to the job group of the operation
    * that caused it. Records stay in memory until the run ends. */
  final class Recorder extends SparkListener with QueryExecutionListener {
    import Json._
    private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String, Seq[Int])]()
    private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val execGroups = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    private val executions = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Map[String, (Long, Long)])]()
    private val taskAgg = new java.util.concurrent.ConcurrentHashMap[(Int, Int), TaskAgg]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStarts.put(e.jobId, (e.time.toDouble, g, e.stageIds))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != null) jobs.add(obj("id" -> num(e.jobId), "group" -> str(s._2), "start_ms" -> num(s._1),
        "end_ms" -> num(e.time.toDouble), "stage_ids" -> arr(s._3.map(num(_))),
        "ok" -> (if (e.jobResult == JobSucceeded) "true" else "false")))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      taskAgg.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new TaskAgg)
        .add(e.taskInfo.duration.toDouble, e.taskMetrics)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val a = Option(taskAgg.remove((si.stageId, si.attemptNumber()))).getOrElse(new TaskAgg)
      stages.add(obj(Seq("id" -> num(si.stageId), "attempt" -> num(si.attemptNumber()),
        "num_tasks" -> num(si.numTasks),
        "submit_ms" -> num(si.submissionTime.map(_.toDouble).getOrElse(-1.0)),
        "complete_ms" -> num(si.completionTime.map(_.toDouble).getOrElse(-1.0))) ++ a.fields: _*))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execGroups.put(s.executionId, s.jobGroupId.getOrElse(""))
      case _ =>
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      executions.add((qe.id, funcName, Recorder.phases(qe)))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      executions.add((qe.id, funcName, Recorder.phases(qe)))

    def jobsJson: Seq[String] = { import scala.jdk.CollectionConverters._; jobs.asScala.toSeq }
    def stagesJson: Seq[String] = { import scala.jdk.CollectionConverters._; stages.asScala.toSeq }
    def executionsJson: Seq[String] = {
      import scala.jdk.CollectionConverters._
      executions.asScala.toSeq.map { case (id, fn, ph) =>
        obj("id" -> num(id.toDouble), "func" -> str(fn),
          "group" -> str(Option(execGroups.get(id)).getOrElse("")),
          "phases" -> Recorder.phasesJson(ph))
      }
    }
  }

  object Recorder {
    /** Catalyst phase → (start, end) in epoch ms, from a QueryPlanningTracker. */
    def phases(qe: QueryExecution): Map[String, (Long, Long)] =
      qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }

    def phasesJson(ph: Map[String, (Long, Long)]): String = {
      import Json._
      obj(ph.toSeq.sortBy(_._1).map { case (k, (s, t)) => k -> arr(Seq(num(s.toDouble), num(t.toDouble))) }: _*)
    }
  }

  /** Sums over one stage attempt's finished tasks (times in ms, sizes in bytes). */
  final class TaskAgg {
    private var tasks, runMs, cpuMs, gcMs, taskMs, maxTaskMs = 0.0
    private var shuffleRead, shuffleWrite, spill, result, output = 0.0

    def add(durationMs: Double, m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
      tasks += 1; taskMs += durationMs; maxTaskMs = math.max(maxTaskMs, durationMs)
      if (m != null) {
        runMs += m.executorRunTime; cpuMs += m.executorCpuTime / 1e6; gcMs += m.jvmGCTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        result += m.resultSize; output += m.outputMetrics.bytesWritten
      }
    }

    def fields: Seq[(String, String)] = synchronized {
      import Json.num
      Seq("tasks" -> num(tasks), "run_ms" -> num(runMs), "cpu_ms" -> num(cpuMs), "gc_ms" -> num(gcMs),
        "task_ms" -> num(taskMs), "max_task_ms" -> num(maxTaskMs), "shuffle_read_b" -> num(shuffleRead),
        "shuffle_write_b" -> num(shuffleWrite), "spill_b" -> num(spill), "result_b" -> num(result),
        "output_b" -> num(output))
    }
  }

  object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def num(i: Int): String = i.toString
    def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  }
}
