package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Closed-loop benchmark harness: one client, one query at a time,
  * against the engine's declared queries (`graft.SparkEntry.queries`).
  *
  * Usage (normally launched by perfbench/run.py):
  * {{{
  * Harness --data DIR --out DIR --queries q1,q2 --seconds 20
  *         --seed 1 --cpus 4 --trace 0|1 [--kernels k1,k2] [--fail q]
  * }}}
  * Writes `result.json` into `--out`, and one parquet result per query
  * (`--out/rows/<query>`) for the oracle check run.py makes afterwards.
  * Those results come from an untimed pass before the timed loop, which
  * doubles as its warm-up.
  *
  * Traced runs (`--trace 1`) time the first half of the run untraced
  * and the second half traced, so the tracing overhead is measured in
  * the same process; the traced half records spans and listener
  * counters, then the kernels are called directly, once each.
  */
object Harness {

  final case class Span(id: Int, exec: Int, name: String, parent: Int, start: Long, end: Long)

  final case class Exec(id: Int, query: String, pass: Int, traced: Boolean, secs: Double,
                        cpuS: Double, constructS: Double, runS: Double, rows: Long, error: String,
                        analysisMs: Long, optimizationMs: Long, planningMs: Long,
                        codegenNs: Long, compiles: Long)

  final case class Batch(query: String, inputRows: Long, triggerMs: Long, addBatchMs: Long,
                         walCommitMs: Long, stateCommitMs: Long, stateRows: Long,
                         stateMemBytes: Long, stateStores: Long, droppedRows: Long)

  final class Counters {
    var jobs, constructJobs, stages, tasks, succeeded = 0L
    var taskMs, cpuNs, gcMs, schedMs, fetchWaitMs = 0L
    var shuffleWrite, shuffleRead, spill, peakMem, inputRows = 0L
  }

  /** Task/stage/job counters keyed by the execution id the harness puts
    * in the `perfbench.exec` local property; jobs also carry the phase
    * (`construct` while the query function runs, `run` after). */
  final class Recorder extends SparkListener {
    val byExec = scala.collection.mutable.HashMap.empty[Int, Counters]
    val stageExec = scala.collection.mutable.HashMap.empty[Int, Int]
    val jobInfo = scala.collection.mutable.HashMap.empty[Int, (Int, String, Long)]
    val jobs = ArrayBuffer.empty[(Int, String, Long, Long)]

    private def execOf(p: java.util.Properties): Option[Int] =
      Option(p).flatMap(x => Option(x.getProperty("perfbench.exec"))).map(_.toInt)
    private def c(e: Int): Counters = byExec.getOrElseUpdate(e, new Counters)

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      execOf(j.properties).foreach { e =>
        val phase = Option(j.properties.getProperty("perfbench.phase")).getOrElse("run")
        c(e).jobs += 1
        if (phase == "construct") c(e).constructJobs += 1
        jobInfo(j.jobId) = (e, phase, j.time)
        j.stageIds.foreach(s => stageExec(s) = e)
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      jobInfo.remove(j.jobId).foreach { case (e, phase, t0) => jobs += ((e, phase, t0, j.time)) }
    }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
      execOf(s.properties).foreach(e => stageExec(s.stageInfo.stageId) = e)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      stageExec.get(s.stageInfo.stageId).foreach(e => c(e).stages += 1)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      stageExec.get(t.stageId).foreach { e =>
        val k = c(e); val info = t.taskInfo; val m = t.taskMetrics
        k.tasks += 1
        if (info.successful) k.succeeded += 1
        k.taskMs += info.duration
        if (m != null) {
          k.cpuNs += m.executorCpuTime
          k.gcMs += m.jvmGCTime
          k.schedMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
          k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          k.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          k.spill += m.diskBytesSpilled
          k.peakMem = math.max(k.peakMem, m.peakExecutionMemory)
          k.inputRows += m.inputMetrics.recordsRead
        }
      }
    }
  }

  /** Micro-batch progress of every streaming query the engine runs; the
    * engine's stream sessions copy the caller's listeners. */
  final class StreamRecorder extends StreamingQueryListener {
    val batches = ArrayBuffer.empty[Batch]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val ops = p.stateOperators
      batches += Batch(Option(p.name).getOrElse(""), p.numInputRows,
        d.getOrElse("triggerExecution", p.batchDuration), d.getOrElse("addBatch", 0L),
        d.getOrElse("walCommit", 0L), ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum, ops.map(_.numStateStoreInstances).sum,
        ops.map(_.numRowsDroppedByWatermark).sum)
    }
  }

  // ---------------------------------------------------------------- kernels

  private val PDAY = 86400000000L

  private def base(s: SparkSession, d: String): DataFrame =
    graft.core.Tables.events(s, d).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      unix_micros(col("ts")).as("t_us"), graft.core.Tables.cents(col("value")).as("vc"))

  /** Direct calls into the kernel layers with the arguments the
    * declared queries use (t5, t6, t8, t3b, t13, j8b, e3, j10). Each
    * returns the seconds of the kernel call plus the execution of the
    * frame it returns; inputs it does not own are built untimed. */
  private def kernels(s: SparkSession, d: String): Map[String, () => Double] = {
    def timed(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(df: => DataFrame): Double = timed(graft.core.Exec.runCount(df))
    Map(
      "search.lombscargle" -> (() => run(graft.search.LombScargle.periodogram(
        base(s, d), "t_us", "vc", 120, subdiv = 6, fapProb = Some(0.05)))),
      "search.bls" -> (() => {
        val b = base(s, d)
        val r = b.agg(min(col("t_us")), max(col("t_us")), count(lit(1)), sum(col("vc"))).collect()(0)
        run {
          val trials = graft.search.Bls.referenceTrials(r.getLong(1) - r.getLong(0), r.getLong(2),
            nFreq = 300, osamp = 10)
          graft.search.Bls.spectrumPrebinnedTrials(b, "t_us", "vc", trials, levels = 5,
            stats = Some((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))))
        }
      }),
      "search.matched_filter" -> (() => run(graft.search.MatchedFilter.flares(
        base(s, d), Seq("user_id"), "t_us", "event_id", "vc", 2.0, 0.99))),
      "ops.detrend" -> (() => {
        // t3b's shape: 8 dense parts x 500 samples at 30 min, cubic
        // trend + deterministic noise + a periodic dip
        val sim = base(s, d).agg(min(col("t_us")).as("t0"))
          .withColumn("p", explode(sequence(lit(0), lit(7))))
          .withColumn("i", explode(sequence(lit(0L), lit(499L))))
          .withColumn("t_us", col("t0") + col("i") * 1800000000L)
          .withColumn("u", col("i").cast("double") / 499.0)
          .withColumn("value", lit(1.0) + col("u") * col("u") * col("u") * 0.01 +
            ((col("i") * 1103515245L + 12345L) % 2147483648L).cast("double") / 2147483648.0 * 1e-3 -
            when(col("i") % 97 < 5, 0.004).otherwise(0.0))
          .select(col("p").cast("string").as("part"), (col("p") * 1000L + col("i")).as("id"),
            col("t_us"), col("value"), lit(1.0).as("err"))
          .localCheckpoint()
        run(graft.ops.Detrend.detrend(sim, Seq("part"), "t_us", "id", "value", "err",
          gapUs = 3600000000L, mode = "Spline", timescaleDays = 2.0))
      }),
      "model.ensemble" -> (() => {
        // t13's binned transit fixture, then the sampler alone
        val P7 = 7L * PDAY; val n = 4000L; val step = 30L * PDAY / n
        val bins = base(s, d).agg(min(col("t_us")).as("t0"))
          .withColumn("i", explode(sequence(lit(0L), lit(n - 1))))
          .withColumn("g_us", col("t0") + col("i") * step)
          .withColumn("r", (col("i") % 65536L * 1103515245L + 12345L) % 2147483648L)
          .withColumn("noise", (col("r").cast("double") / 2147483648.0 - 0.5) * 0.004)
          .withColumn("ph", pmod(col("g_us") - col("t0"), lit(P7)))
          .withColumn("flux", lit(1.0)
            - when(col("ph") < PDAY / 2 || col("ph") > P7 - PDAY / 2, 0.03).otherwise(0.0)
            + col("noise"))
          .withColumn("fc", round(col("flux") * 1e6).cast("long"))
          .withColumn("b", expr(s"(ph * 200) div $P7"))
          .groupBy("b").agg(count(lit(1)).as("n"), sum(col("fc")).as("sv"))
          .orderBy("b").collect()
        val t = bins.map(r => (r.getLong(0).toDouble + 0.5) * 7.0 / 200)
        val y = bins.map(r => r.getLong(2).toDouble / r.getLong(1) / 1e6)
        val llq = graft.model.Ensemble.boxLlq(t, y, scale = 3.125e12, period = 7.0) _
        val yq = y.map(v => graft.expr.VecExprs.roundHalfAway(v * 1e9))
        val guess = graft.model.Ensemble.boxGuessQ(t, yq, 7.0, 1.0)
        timed(graft.model.Ensemble.sampleQ(llq, lo = Array(-0.2, -3.5, 0.2),
          hi = Array(0.2, 3.5, 2.0), nWalkers = 100, nSteps = 100, burnFrac = 0.3,
          seed = 42L, init = guess, ballFrac = 0.005))
      }),
      "plans.asof" -> (() => run {
        val b = base(s, d)
        val samples = b.groupBy("event_type", "t_us").agg(max(col("vc")).as("vc"))
        val grid = b.agg(min(col("t_us")).as("t0"), max(col("t_us")).as("t1"))
          .withColumn("i", explode(sequence(lit(0L), expr("(t1 - t0) div 21600000000"))))
          .select((col("t0") + col("i") * 21600000000L).as("g_us"))
          .crossJoin(b.select(col("event_type").as("g_type")).distinct())
        graft.plans.AsOfJoin.asof(grid, samples, "g_type", "g_us", "event_type", "t_us")
      }),
      "ann.ivf" -> (() => run {
        val emb = graft.core.Tables.embeddings(s, d)
        val cents = graft.ann.Ivf.train(emb, k = 16, iters = 2)
        graft.ann.Ivf.search(emb, cents, Seq(0L, 1L, 2L, 3L, 4L), nProbe = 4, topK = 5)
      }),
      "text.ed1" -> (() => run(
        graft.text.FuzzyJoin.ed1Pairs(graft.core.Tables.customer(s, d), "c_name")))
    )
  }

  // ---------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = a("data"); val out = a("out")
    val queries = a("queries").split(",").toSeq.filter(_.nonEmpty)
    val kernelNames = a.getOrElse("kernels", "").split(",").toSeq.filter(_.nonEmpty)
    val seconds = a("seconds").toDouble
    val seed = a("seed").toLong
    val cpus = a("cpus").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    // self-test hook: executions of this query throw, as a failure would
    val failQuery = a.get("fail")
    Files.createDirectories(Paths.get(out))

    val declared = graft.SparkEntry.queries
    val missing = queries.filterNot(declared.contains)
    require(missing.isEmpty, s"not declared by SparkEntry.queries: ${missing.mkString(",")}")

    val streams = new StreamRecorder
    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s.streams.addListener(streams)
      s
    }
    def touch(s: SparkSession): Unit =
      Seq("events", "embeddings", "customer")
        .filter(t => new java.io.File(data, s"$t.parquet").exists())
        .foreach(t => graft.core.Tables.load(s, data, t).count())

    // --- set-up: build the session and read every input table once
    // (file listing, parquet footers)
    val session0 = System.nanoTime()
    val spark = session()
    touch(spark)
    val sessionS = (System.nanoTime() - session0) / 1e9
    val sc = spark.sparkContext

    // --- check pass, untimed: one result per query for the content
    // check, which also warms the JIT and codegen caches for the loop
    val check0 = System.nanoTime()
    queries.distinct.foreach { q =>
      try declared(q)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/rows/$q")
      catch { case e: Throwable => System.err.println(s"[perfbench] dump $q: $e") }
      spark.catalog.clearCache()
    }
    val checkS = (System.nanoTime() - check0) / 1e9

    // --- timed closed loop
    val recorder = new Recorder
    val execs = ArrayBuffer.empty[Exec]
    val spans = ArrayBuffer.empty[Span]
    val passS = ArrayBuffer.empty[(Int, Boolean, Double)]
    var nextSpan = 0
    def span(exec: Int, name: String, parent: Int, s0: Long, s1: Long): Int = {
      nextSpan += 1; spans += Span(nextSpan, exec, name, parent, s0, s1); nextSpan
    }
    // wall0 is the start of the first timed query; the caller measures
    // set-up from its launch of this process to it
    val nano0 = System.nanoTime(); val wall0 = System.currentTimeMillis()
    def wallToNs(ms: Long): Long = (ms - wall0) * 1000000L + nano0
    // CPU seconds of the whole process (driver, task, GC and JIT threads);
    // time the host steals from the virtual CPUs is not counted in it
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cgTime = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val cgCount = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

    def execute(q: String, pass: Int, traced: Boolean): Unit = {
      val id = execs.size + 1
      sc.setLocalProperty("perfbench.exec", if (traced) id.toString else null)
      sc.setLocalProperty("perfbench.phase", "construct")
      val cg0 = cgTime.compileTime; val cc0 = cgCount.getCount
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      var t1 = t0; var rows = -1L; var err: String = null
      var phases = Map.empty[String, (Long, Long)]
      try {
        if (failQuery.contains(q)) throw new IllegalStateException(s"forced failure of $q")
        val df = declared(q)(spark, data)
        t1 = System.nanoTime()
        sc.setLocalProperty("perfbench.phase", "run")
        rows = graft.core.Exec.runCount(df)
        phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      } catch { case e: Throwable =>
        err = (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(300)
        if (t1 == t0) t1 = System.nanoTime()
      }
      val t2 = System.nanoTime()
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      sc.setLocalProperty("perfbench.exec", null)
      def ph(k: String) = phases.get(k).map { case (s0, s1) => s1 - s0 }.getOrElse(0L)
      execs += Exec(id, q, pass, traced, (t2 - t0) / 1e9, cpuS, (t1 - t0) / 1e9, (t2 - t1) / 1e9, rows, err,
        ph("analysis"), ph("optimization"), ph("planning"),
        cgTime.compileTime - cg0, cgCount.getCount - cc0)
      if (traced) {
        val root = span(id, "query", 0, t0, t2)
        val cons = span(id, "queries.construct", root, t0, t1)
        val run = span(id, "exec.run", root, t1, t2)
        // phase stamps have millisecond resolution: place each phase by
        // its midpoint and clip it into that parent
        phases.foreach { case (k, (s0, s1)) =>
          val (ns0, ns1) = (wallToNs(s0), wallToNs(s1))
          val (p, p0, p1) = if ((ns0 + ns1) / 2 < t1) (cons, t0, t1) else (run, t1, t2)
          span(id, s"catalyst.$k", p, math.min(math.max(ns0, p0), p1), math.max(math.min(ns1, p1), p0))
        }
      }
      spark.catalog.clearCache()
      System.gc()
    }

    val rnd = new scala.util.Random(seed)
    def runPasses(untilS: Double, traced: Boolean): Unit = {
      var n = 0
      while (n == 0 || (System.nanoTime() - nano0) / 1e9 < untilS) {
        val pass = passS.size
        val t0 = System.nanoTime()
        rnd.shuffle(queries).foreach(q => execute(q, pass, traced))
        passS += ((pass, traced, (System.nanoTime() - t0) / 1e9))
        n += 1
      }
    }
    org.apache.spark.PerfbenchBus.drain(sc)
    streams.synchronized(streams.batches.clear())
    if (trace) {
      runPasses(seconds / 2, traced = false)
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.addSparkListener(recorder)
      runPasses(seconds, traced = true)
    } else runPasses(seconds, traced = false)
    val measuredS = (System.nanoTime() - nano0) / 1e9
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(recorder)
    val batches = streams.synchronized(streams.batches.toList)

    // job spans under the phase span of their execution
    if (trace) recorder.synchronized {
      val byExec = spans.groupBy(_.exec)
      recorder.jobs.foreach { case (e, phase, s0, s1) =>
        byExec.get(e).foreach { ss =>
          val parentName = if (phase == "construct") "queries.construct" else "exec.run"
          ss.find(_.name == parentName).foreach { p =>
            val a = math.min(math.max(p.start, wallToNs(s0)), p.end)
            span(e, if (phase == "construct") "queries.job" else "exec.job", p.id,
              a, math.max(a, math.min(p.end, wallToNs(s1))))
          }
        }
      }
    }

    // --- kernels, traced runs only, once each
    val kernelS = if (!trace) Map.empty[String, Double] else {
      val ks = kernels(spark, data)
      kernelNames.map { k =>
        val secs = try ks(k)() catch { case e: Throwable =>
          System.err.println(s"[perfbench] kernel $k: $e"); Double.NaN }
        spark.catalog.clearCache()
        k -> secs
      }.toMap
    }

    val oracle = queries.distinct.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap

    val vmHwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    val counters = recorder.synchronized(recorder.byExec.toMap)
    val result = Map(
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "main_ms" -> mainMs,
      "session_s" -> sessionS,
      "check_s" -> checkS,
      "timed_start_ms" -> wall0,
      "measured_s" -> measuredS,
      "passes" -> passS.toList.map { case (p, t, s) => Map("pass" -> p, "traced" -> t, "secs" -> s) },
      "execs" -> execs.toList,
      "batches" -> batches,
      "counters" -> counters.map { case (e, k) => e.toString -> Map(
        "jobs" -> k.jobs, "construct_jobs" -> k.constructJobs, "stages" -> k.stages,
        "tasks" -> k.tasks, "succeeded" -> k.succeeded, "task_ms" -> k.taskMs,
        "cpu_ns" -> k.cpuNs, "gc_ms" -> k.gcMs, "sched_ms" -> k.schedMs,
        "fetch_wait_ms" -> k.fetchWaitMs, "shuffle_write" -> k.shuffleWrite,
        "shuffle_read" -> k.shuffleRead, "spill" -> k.spill, "peak_mem" -> k.peakMem,
        "input_rows" -> k.inputRows) },
      "spans" -> spans.toList,
      "kernels" -> kernelS,
      "oracle_sql" -> oracle,
      "vm_hwm_kb" -> vmHwmKb,
      "config" -> Map(
        "cpus" -> cpus,
        "master" -> sc.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "stream_parts" -> sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "2"),
        "state_stores_seen" -> batches.map(_.stateStores).distinct.sorted,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jdk" -> System.getProperty("java.runtime.version"),
        "spark" -> spark.version,
        "data" -> data, "seed" -> seed)
    )
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(Paths.get(out, "result.json"), json.writeValueAsString(result))
    spark.stop()
  }
}
