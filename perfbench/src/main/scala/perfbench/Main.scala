package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run of one workload in one JVM.
  *
  * Load model: closed loop, one client, one query in flight, on
  * `local[<nproc>]` with `spark.sql.shuffle.partitions = nproc`. The
  * engine is driven only through `SparkEntry.queries`, the public
  * `ops.*` / `functions.*` calls and session conf.
  *
  * Phases: set-up (one SparkContext, timed from JVM start), one check
  * pass whose outputs go to parquet for the oracle compare (it also
  * warms the JIT), then timed passes until `--seconds` have elapsed
  * and at least two ran. A timed query is the query function call plus
  * `write.format("noop")`, which materialises every output row and
  * column.
  *
  * With `--trace 1` passes run in the order untraced, traced, traced,
  * untraced (repeated), so the run reports its own tracing overhead from
  * two passes of each kind with neither kind always first; traced passes
  * record spans, a Spark listener's totals and one job group per query.
  * The kernel harness runs at the end.
  *
  * Usage: perfbench.Main --workload W --data DIR --out OUT --seconds S
  *          --trace 0|1 --seed N
  * Writes OUT/result.json, OUT/oracle_sql.json, OUT/check/<query>/ and,
  * traced, OUT/spans.jsonl. It creates OUT/check.started before the
  * check pass and, after it, waits (up to 120 s) for the runner to
  * create OUT/oracle.done.
  */
object Main {
  private val MB = 1024.0 * 1024.0

  final case class Sample(pass: Int, query: String, buildS: Double,
      runS: Double, traced: Boolean) {
    def totalS: Double = buildS + runS
  }

  final case class PassStat(pass: Int, wallS: Double, cpuS: Double,
      traced: Boolean, heapMb: Double, newRdds: Int, storageMb: Double,
      leakedRdds: Int)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = opt.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val wl = Workloads(need("workload"))
    val data = need("data")
    val out = need("out")
    val seconds = need("seconds").toDouble
    val traceOn = need("trace") == "1"
    val seed = need("seed")
    new Run(wl, data, out, seconds, traceOn, seed).execute()
  }

  private final class Run(wl: Workload, data: String, out: String,
      seconds: Double, traceOn: Boolean, seed: String) {
    private val cores = Runtime.getRuntime.availableProcessors
    private val master = s"local[$cores]"
    private val tracer = new Tracer(traceOn)
    private val listener = new GroupMetrics
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    /** Executions attempted per query (set-up, check, warm and timed). */
    private val attempts = mutable.LinkedHashMap.empty[String, Int]
    private var failed = 0
    private val failures = mutable.ArrayBuffer.empty[String]
    private val samples = mutable.ArrayBuffer.empty[Sample]
    private val passes = mutable.ArrayBuffer.empty[PassStat]
    private val probes = mutable.ArrayBuffer.empty[Double]
    private val stepTimes = mutable.LinkedHashMap.empty[String, Double]

    private def attempt(q: String): Unit =
      attempts(q) = attempts.getOrElse(q, 0) + 1

    private def fail(what: String, e: Throwable): Unit = {
      failed += 1
      failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        .take(400)
      System.err.println(s"[perfbench] $what FAILED: $e")
    }

    private def newSpark(indexDir: String): SparkSession = {
      val s = SparkSession.builder()
        .master(master)
        .appName(s"perfbench-${wl.name}")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
        .config(graft.ops.Ann.IndexDirConf, indexDir)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    /** The SparkContext the listener is attached to, if any. */
    private var listening: Option[org.apache.spark.SparkContext] = None

    private def listen(s: SparkSession, on: Boolean): Unit = {
      val sc = s.sparkContext
      if (on && !listening.contains(sc)) {
        sc.addSparkListener(listener)
        listening = Some(sc)
      } else if (!on && listening.contains(sc)) {
        sc.removeSparkListener(listener)
        listening = None
      }
    }

    private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    private def query(s: SparkSession, q: String): DataFrame =
      graft.SparkEntry.queries(q)(s, data)

    private def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    private def withGroup[T](s: SparkSession, trace: String)(body: => T): T =
      if (!tracer.on) body
      else {
        s.sparkContext.setJobGroup(trace, trace, interruptOnCancel = false)
        try body finally s.sparkContext.clearJobGroup()
      }

    private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    private def secsSinceJvmStart: Double =
      (System.currentTimeMillis() - jvmStartMs) / 1e3

    /** Starts the session and builds the workload's shared state. Returns
      * the ready session and the seconds from JVM start to it; the seconds
      * from JVM start to the session with the engine's functions
      * registered go to `stepTimes("setup.session")`. */
    private def setUp(): (SparkSession, Double) = {
      val s = tracer.span("setup.session", s"${wl.name}/setup") {
        val s = newSpark(s"$out/index")
        Workloads.registerFunctions(s)
        s
      }
      stepTimes("setup.session") = secsSinceJvmStart
      listen(s, on = traceOn)
      for (step <- wl.setupSteps) {
        val trace = s"${wl.name}/setup/${step.query}"
        val ts = System.nanoTime()
        attempt(step.query)
        withGroup(s, trace)(tracer.span(step.span, trace) {
          writeCheck(s, step.query)
        })
        stepTimes(step.span) = secsSince(ts)
      }
      (s, secsSinceJvmStart)
    }

    /** Bench's fixed, data-free calibration probe (min of 3 after one
      * warm-up), recorded after every timed pass. */
    private def calProbe(s: SparkSession): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        s.range(1000000L).selectExpr("sum(id * 3 % 7)").collect()
        secsSince(t0)
      }
      once()
      (1 to 3).map(_ => once()).min
    }

    /** Live heap: a full GC, a pause for Spark's ContextCleaner to drop
      * the broadcasts and shuffles that GC released, and a second GC. */
    private def heapAfterGcMb(): Double = {
      System.gc()
      Thread.sleep(200)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
    }

    /** Pass-end accounting: live heap with the pass's state still held,
      * persisted RDDs the pass added, and, for cold passes, what stays
      * persisted after every module's clearCache() (then released). */
    private def endPass(s: SparkSession, before: Set[Int])
        : (Double, Int, Double, Int) = {
      val sc = s.sparkContext
      val newRdds = sc.getPersistentRDDs.keySet.count(id => !before(id))
      val storageMb = sc.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / MB
      val heapMb = heapAfterGcMb()
      val leaked = if (wl.cold) releaseAll(s) else 0
      (heapMb, newRdds, storageMb, leaked)
    }

    private def releaseAll(s: SparkSession): Int = {
      Workloads.clearModuleCaches()
      val left = s.sparkContext.getPersistentRDDs.values.toSeq
      left.foreach(_.unpersist(blocking = true))
      left.size
    }

    /** Materialise a query's whole output as parquet for the oracle. */
    private def writeCheck(s: SparkSession, q: String): Unit =
      query(s, q).write.mode("overwrite").parquet(s"$out/check/$q")

    /** Runs every pass query once (set-up steps wrote their own output). */
    private def checkPass(s0: SparkSession): Unit = {
      val s = if (wl.cold) s0.newSession() else s0
      val before = s.sparkContext.getPersistentRDDs.keySet.toSet
      for (q <- wl.passQueries) {
        attempt(q)
        try writeCheck(s, q)
        catch { case e: Throwable => fail(s"check $q", e) }
      }
      endPass(s, before)
    }

    private def runPass(s0: SparkSession, p: Int, traced: Boolean): Unit = {
      tracer.on = traced
      listen(s0, on = traced)
      val sc = s0.sparkContext
      val before = sc.getPersistentRDDs.keySet.toSet
      val s = if (wl.cold) s0.newSession() else s0
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      tracer.span("pass", s"${wl.name}/pass$p") {
        for (q <- wl.passQueries) {
          val trace = s"${wl.name}/pass$p/$q"
          attempt(q)
          try withGroup(s, trace)(tracer.span("query", trace) {
            val tb = System.nanoTime()
            val df = tracer.span("q.build", trace)(query(s, q))
            val build = secsSince(tb)
            val tr = System.nanoTime()
            tracer.span("q.run", trace)(noop(df))
            samples += Sample(p, q, build, secsSince(tr), traced)
          })
          catch { case e: Throwable => fail(s"pass $p $q", e) }
        }
      }
      val wall = secsSince(t0)
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val (heap, newRdds, storage, leaked) =
        tracer.span("pass.end", s"${wl.name}/pass$p")(endPass(s, before))
      passes += PassStat(p, wall, cpu, traced, heap, newRdds, storage, leaked)
      tracer.on = traceOn
      probes += calProbe(s0)
    }

    def execute(): Unit = {
      Files.createDirectories(Paths.get(out))
      val (s, setupS) = setUp()

      // The oracle runs beside the check pass only: the runner computes
      // the DuckDB answers once `check.started` exists and signals
      // `oracle.done`; no timed pass starts before that signal.
      val oracle = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.value(
        wl.checked.flatMap(q => oracle.get(q).map(q -> _)).toMap))
      Files.writeString(Paths.get(s"$out/check.started"), "")
      val tCheck = System.nanoTime()
      checkPass(s)
      val checkS = secsSince(tCheck)
      val oracleWaitS = awaitFile(s"$out/oracle.done", timeoutS = 120)
      val jitWaitS = awaitJitQuiet()
      val recall = wl.recall.map { q =>
        q -> (try s.read.parquet(s"$out/check/$q")
          .selectExpr("avg(recall)").head().getDouble(0)
        catch { case _: Throwable => Double.NaN })
      }

      // Timed passes until --seconds have elapsed and at least two ran,
      // so no figure rests on a single pass. A traced run has at least
      // four, in the order untraced, traced, traced, untraced, repeated.
      val minPasses = if (traceOn) 4 else 2
      val tStart = System.nanoTime()
      var p = 0
      while (p < minPasses || secsSince(tStart) < seconds) {
        p += 1
        runPass(s, p, traced = traceOn && (p % 4 == 2 || p % 4 == 3))
      }
      val measuredS = secsSince(tStart)
      val leakedAtEnd = if (wl.cold) 0 else releaseAll(s)

      val kernels =
        if (traceOn) { tracer.on = true; Kernels.run(s, tracer) } else Nil
      val indexMb = dirMb(s"$out/index")
      val inputMb = dirMb(s"$data/embeddings.parquet")
      val nVec = graft.Tables.footerRowCount(s, s"$data/embeddings.parquet")
      s.stop() // drains the listener bus before its totals are read
      tracer.on = traceOn
      for ((g, t) <- listener.synchronized(listener.groups.toMap))
        tracer.annotate(g, Map(
          "spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
          "spark.tasks" -> t.tasks.toDouble, "spark.task_run_s" -> t.runMs / 1e3,
          "spark.shuffle_read_mb" -> t.shuffleRead / MB,
          "spark.spill_disk_mb" -> t.spillDisk / MB))

      val plainSamples = samples.filterNot(_.traced).map(_.totalS).toSeq
      val (tailP, _, beyond) = Stats.tail(plainSamples)
      val result = metrics(setupS, recall, kernels, indexMb, inputMb,
        nVec, leakedAtEnd)
      if (traceOn) Files.write(Paths.get(s"$out/spans.jsonl"),
        tracer.jsonLines.toSeq.asJava)
      val record = Seq(
        "workload" -> wl.name, "seed" -> seed, "nproc" -> cores,
        "master" -> master,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / MB,
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
        "spark" -> org.apache.spark.SPARK_VERSION,
        "setup_s" -> setupS, "setup_steps_s" -> stepTimes.toMap,
        "check_pass_s" -> checkS, "oracle_wait_s" -> oracleWaitS,
        "jit_wait_s" -> jitWaitS,
        "measured_s" -> measuredS, "passes" -> passes.size,
        "pass_wall_s" -> passes.map(_.wallS),
        "pass_heap_mb" -> passes.map(_.heapMb),
        "calibration_probes_s" -> probes,
        "pass_traced" -> passes.map(_.traced),
        // traced runs: is the overhead larger than the untraced spread?
        "trace_overhead_resolved" -> (for {
          o <- result.get("trace.overhead_frac")
          sp <- result.get("trace.pass_spread_frac")
        } yield math.abs(o) > sp),
        "query_tail" -> Map("pct" -> tailP, "samples" -> plainSamples.size,
          "samples_beyond" -> beyond),
        "checked" -> wl.checked, "pass_queries" -> wl.passQueries,
        "attempted" -> attempts.values.sum, "attempts" -> attempts.toMap,
        "failed" -> failed, "failures" -> failures,
        "samples" -> samples.map(x => Seq(x.pass, x.query, x.buildS, x.runS)),
        "metrics" -> result)
      Files.writeString(Paths.get(s"$out/result.json"), Json.obj(record))
    }

    /** Let the JIT drain the compile backlog the check pass queued: wait
      * until total compilation time has not grown for 500 ms (at most
      * 10 s). Returns the seconds waited. */
    private def awaitJitQuiet(): Double = {
      val jit = ManagementFactory.getCompilationMXBean
      val t0 = System.nanoTime()
      var last = jit.getTotalCompilationTime
      var quietSince = System.nanoTime()
      while (secsSince(quietSince) < 0.5 && secsSince(t0) < 10) {
        Thread.sleep(50)
        val now = jit.getTotalCompilationTime
        if (now != last) { last = now; quietSince = System.nanoTime() }
      }
      secsSince(t0)
    }

    /** Wait until `path` exists; returns the seconds waited. */
    private def awaitFile(path: String, timeoutS: Double): Double = {
      val t0 = System.nanoTime()
      while (!Files.exists(Paths.get(path)) && secsSince(t0) < timeoutS)
        Thread.sleep(20)
      secsSince(t0)
    }

    private def dirMb(path: String): Double = {
      val p = Paths.get(path)
      if (!Files.exists(p)) 0.0
      else {
        val st = Files.walk(p)
        try st.iterator.asScala.filter(Files.isRegularFile(_))
          .map(Files.size(_)).sum / MB
        finally st.close()
      }
    }

    private def metrics(setupS: Double, recall: Seq[(String, Double)],
        kernels: Seq[Kernels.Result], indexMb: Double, inputMb: Double,
        nVec: Long, leakedAtEnd: Int): Map[String, Double] = {
      val m = mutable.LinkedHashMap.empty[String, Double]
      if (!traceOn) {
        val q = samples.map(_.totalS).toSeq
        m("setup_s") = setupS
        m("pass_s") = Stats.median(passes.map(_.wallS).toSeq)
        m("query_p50_s") = Stats.median(q)
        m("query_tail_s") = Stats.tail(q)._2
        m("cpu_s") = Stats.median(passes.map(_.cpuS).toSeq)
        m("peak_heap_mb") = passes.map(_.heapMb).max
      } else layerMetrics(m, recall, kernels, indexMb, inputMb,
        nVec, leakedAtEnd)
      m.toMap
    }

    private def layerMetrics(m: mutable.Map[String, Double],
        recall: Seq[(String, Double)], kernels: Seq[Kernels.Result],
        indexMb: Double, inputMb: Double, nVec: Long, leakedAtEnd: Int)
        : Unit = {
      val traced = passes.filter(_.traced).toSeq
      val plain = passes.filterNot(_.traced).toSeq
      val tracedPass = Stats.median(traced.map(_.wallS))
      val plainPass = Stats.median(plain.map(_.wallS))
      m("trace.pass_s") = tracedPass
      m("trace.untraced_pass_s") = plainPass
      m("trace.overhead_frac") = tracedPass / plainPass - 1
      // the untraced passes' own spread: an overhead inside it is not
      // resolved by the run
      m("trace.pass_spread_frac") =
        (plain.map(_.wallS).max - plain.map(_.wallS).min) / plainPass
      m("setup.session_s") = stepTimes("setup.session")

      // query boundary
      val tracedSamples = samples.filter(_.traced).toSeq
      for (q <- Workloads.allPassQueries) {
        val xs = tracedSamples.filter(_.query == q)
        val med = (f: Sample => Double) =>
          if (xs.isEmpty) 0.0 else Stats.median(xs.map(f))
        m(s"q.$q.build_s") = med(_.buildS)
        m(s"q.$q.run_s") = med(_.runS)
      }

      // Spark execution, per traced pass
      val tracedIds = traced.map(_.pass).toSet
      val groups = listener.synchronized(listener.groups.toMap).filter {
        case (g, _) => g.split("/") match {
          case Array(w, pass, _) if w == wl.name && pass.startsWith("pass") =>
            tracedIds(pass.drop(4).toInt)
          case _ => false
        }
      }.values.toSeq
      val n = traced.size.toDouble
      def sum(f: listener.Totals => Double) = groups.map(f).sum / n
      val runS = sum(_.runMs / 1e3)
      m("spark.jobs") = sum(_.jobs.toDouble)
      m("spark.stages") = sum(_.stages.toDouble)
      m("spark.tasks") = sum(_.tasks.toDouble)
      m("spark.task_run_s") = runS
      m("spark.task_cpu_s") = sum(_.cpuNs / 1e9)
      m("spark.gc_s") = sum(_.gcMs / 1e3)
      m("spark.slot_idle_frac") = 1 - runS / (tracedPass * cores)
      m("spark.shuffle_read_mb") = sum(_.shuffleRead / MB)
      m("spark.shuffle_write_mb") = sum(_.shuffleWrite / MB)
      m("spark.spill_mem_mb") = sum(_.spillMem / MB)
      m("spark.spill_disk_mb") = sum(_.spillDisk / MB)
      m("spark.input_mb") = sum(_.input / MB)
      m("spark.peak_exec_mem_mb") =
        (groups.map(_.peakExecMem).maxOption.getOrElse(0L)) / MB

      // functions kernels
      for (k <- kernels) {
        m(s"kernel.${k.name}.ns_per_row") = k.nsPerRow
        m(s"kernel.${k.name}.bytes_per_row") = k.bytesPerRow
      }

      // ops.Knn: the leave-one-out pair scans a pass pays
      val scans = Seq("knn_topk", "knn_topk_agg", "knn_topk_blocked")
        .filter(wl.passQueries.contains)
      val scanS = scans.map(q => m(s"q.$q.build_s") + m(s"q.$q.run_s")).sum
      val exactS = stepTimes.get("knn.exact_cache")
      val pairs = nVec * (nVec - 1).toDouble
      val (kPairs, kSecs) =
        if (scans.nonEmpty) (pairs * scans.size, scanS)
        else exactS.map(t => (pairs, t)).getOrElse((0.0, 0.0))
      m("knn.pairs") = kPairs
      m("knn.pairs_per_s") = if (kSecs > 0) kPairs / kSecs else 0.0

      // ops.Ann / ops.Nsw build (set-up) and serve (recall)
      def step(name: String) = stepTimes.getOrElse(name, 0.0)
      m("ann.index_build_s") = step("ann.index_build")
      m("ann.index_mb_per_input_mb") =
        if (inputMb > 0 && indexMb > 0) indexMb / inputMb else 0.0
      for (q <- Workloads.annServe.recall)
        m(s"recall.$q") = recall.toMap.getOrElse(q, 0.0)

      // PersistedCache hygiene, per traced pass
      m("cache.persisted_rdds") = traced.map(_.newRdds).sum / n
      m("cache.storage_mb") = traced.map(_.storageMb).sum / n
      m("cache.leaked_rdds") =
        if (wl.cold) traced.map(_.leakedRdds).sum / n else leakedAtEnd.toDouble
    }
  }
}
