package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{CacheScope, GraftSession, Q, QueryRegistry}
import graft.grid.{FindStructures, GridOps, LineSlice}
import graft.sources.VPICSource

/** The benchmark's JVM side: one closed-loop client (one driver thread,
  * the next query only after the previous one returns) that drives graft
  * through its public entry points and records raw timings.
  *
  * It computes no statistics. It writes one JSON file of raw records
  * (setup times, one record per timed execution and, when traced, spans
  * and per-job listener aggregates); `perfbench/run.py` turns that file
  * into metrics and checks the outputs.
  *
  * Modes:
  *   registry --out F            dump every registry query's name, owning
  *                               package and oracle SQL
  *   run --workload W ...        run one workload (see [[Opts]])
  */
object Harness {
  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def list(k: String): Seq[String] =
      m.get(k).map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts(args.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    args.headOption match {
      case Some("registry") => dumpRegistry(opts("out"))
      case Some("run") => new Run(opts).execute()
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  /** The package directly under `graft` that defines a query's function:
    * registry lambdas are compiled into the object that declares them.
    */
  def moduleOf(q: Q): String = q.fn.getClass.getName.split('.') match {
    case Array("graft", pkg, _*) if pkg.headOption.exists(_.isLower) => pkg
    case _ => "other"
  }

  private def dumpRegistry(out: String): Unit = {
    val rows = QueryRegistry.all.map { q =>
      Json.obj("name" -> Json.str(q.name), "module" -> Json.str(moduleOf(q)),
        "oracle" -> q.oracle.map(Json.str).getOrElse("null"))
    }
    Json.write(out, Json.arr(rows))
  }

  /** Resolve workload names against the registry. A name matches a query
    * whose full name equals it or starts with it plus `_`; anything but
    * exactly one match is an error, so a rename can never silently
    * shrink a workload.
    */
  def resolve(all: Seq[Q], names: Seq[String]): Seq[Q] = names.map { n =>
    all.filter(q => q.name == n || q.name.startsWith(n + "_")) match {
      case Seq(q) => q
      case Seq() => throw new IllegalArgumentException(
        s"workload names query '$n', which is not in QueryRegistry.all")
      case many => throw new IllegalArgumentException(
        s"workload name '$n' is ambiguous: ${many.map(_.name).mkString(", ")}")
    }
  }
}

/** Minimal JSON writer (the records are flat and numeric). */
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
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8)): Unit
}

/** Per-job aggregates from Spark's public listener API. Task metrics are
  * attributed to the job that most recently listed the task's stage.
  */
final class JobRecorder extends SparkListener {
  final class JobRec(val id: Int, val startMs: Long, val stagesTotal: Int,
      val group: String) {
    var endMs = -1L
    val submitted = mutable.Set[Int]()
    var tasks, failed = 0L
    var runMs, cpuNs, gcMs, fetchWaitMs = 0L
    var shRead, shWrite, spill, input, output = 0L
    var peakMem = 0L
  }
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, e.time, e.stageIds.size, group)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val s = e.stageInfo.stageId
      stageJob.get(s).flatMap(jobs.get).foreach(_.submitted += s)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { r =>
      r.tasks += 1
      if (e.reason != org.apache.spark.Success) r.failed += 1
      Option(e.taskMetrics).foreach { m =>
        r.runMs += m.executorRunTime; r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        r.shRead += m.shuffleReadMetrics.totalBytesRead
        r.shWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.input += m.inputMetrics.bytesRead
        r.output += m.outputMetrics.bytesWritten
        r.peakMem = math.max(r.peakMem, m.peakExecutionMemory)
      }
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(r => r.endMs = e.time)
  }

  def ended(group: String): Boolean = synchronized {
    jobs.values.exists(j => j.group == group && j.endMs >= 0)
  }

  /** Completed jobs outside `skipGroup`, times relative to `anchorMs`. */
  def toJson(anchorMs: Long, skipGroup: String): String = synchronized {
    Json.arr(jobs.values.filter(j => j.group != skipGroup && j.endMs >= 0)
      .map { j =>
        Json.obj("id" -> j.id.toString,
          "start" -> (j.startMs - anchorMs).toString,
          "end" -> (j.endMs - anchorMs).toString,
          "stages" -> j.stagesTotal.toString,
          "stages_run" -> j.submitted.size.toString,
          "tasks" -> j.tasks.toString, "tasks_failed" -> j.failed.toString,
          "run_ms" -> j.runMs.toString, "cpu_ns" -> j.cpuNs.toString,
          "gc_ms" -> j.gcMs.toString, "fetch_wait_ms" -> j.fetchWaitMs.toString,
          "shuffle_read" -> j.shRead.toString,
          "shuffle_write" -> j.shWrite.toString,
          "spill" -> j.spill.toString, "input" -> j.input.toString,
          "output" -> j.output.toString, "peak_mem" -> j.peakMem.toString)
      })
  }
}

object Run {
  /** A well-spread RNG seed per (run seed, purpose): java.util.Random's
    * first draws are nearly equal for adjacent seeds.
    */
  def mix(seed: Long, purpose: String): Long =
    (seed, purpose).##.toLong * 0x9E3779B97F4A7C15L

  final case class Span(id: Int, parent: Int, kind: String, name: String,
      start: Double, var end: Double = -1)

  /** What a timed body returns: extra fields of its record, and an output
    * check, if this execution has one, that runs after the clock stops
    * ("" when it passes).
    */
  final case class Timed(extra: Seq[(String, String)],
      check: Option[() => String] = None)
}

/** One run of one workload. */
final class Run(o: Harness.Opts) {
  import Run.{Span, Timed}
  private val workload = o("workload")
  private val seed = o("seed").toLong
  private val seconds = o("seconds").toDouble
  private val deadline = o("deadline").toDouble
  private val traced = o("trace") == "1"
  private val cpus = o("cpus")
  private val dataDir = o("data")
  private val runDir = o("rundir")
  private val setupReps = o("setup-reps").toInt
  private val isVpic = o.m.contains("vpic-nz")

  // Spans and listener times share one origin: epoch ms at anchor, with
  // span ends taken from the monotonic clock.
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  private def nowMs: Double = (System.nanoTime() - anchorNs) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  private def open(kind: String, name: String, parent: Int): Int =
    if (!traced) -1 else {
      spans += Span(spans.size, parent, kind, name, nowMs); spans.size - 1
    }
  private def close(id: Int): Unit = if (id >= 0) spans(id).end = nowMs
  /** Time `body` as a child span; returns seconds (traced or not). */
  private def phase[T](kind: String, name: String, parent: Int)(
      body: => T): (T, Double) = {
    val id = open(kind, name, parent)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally close(id)
  }

  private val execs = mutable.ArrayBuffer[String]()
  private val passEnds = mutable.ArrayBuffer[String]()
  private var spark: SparkSession = _
  private val recorder = new JobRecorder
  private val DrainGroup = "perfbench-drain"

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  /** A full GC after each execution, outside its latency, and the heap
    * in use after it: the live set, less what Spark's ContextCleaner has
    * yet to release. The next execution starts without the previous
    * one's garbage: over ten runs on 4 vCPUs without it, ingest's warm
    * p50 spread 0.46 (quartile distance over median), against 0.23 with.
    */
  private def fencedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  private def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def errText(t: Throwable): String = {
    val s = t.toString.linesIterator.nextOption().getOrElse(t.getClass.getName)
    if (s.length > 300) s.take(300) + "..." else s
  }

  private def newSession(): SparkSession = {
    val s = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.warehouse.dir", s"$runDir/warehouse"), cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session build through warm-up, repeated; the last session is kept. */
  private def setup(): Seq[Double] = (0 until setupReps).map { i =>
    val t0 = System.nanoTime()
    val s = newSession()
    s.range(100000).groupBy((col("id") % 7).as("k")).count().count()
    s.read.parquet(s"$dataDir/lineitem.parquet").limit(1000).count()
    val dt = (System.nanoTime() - t0) / 1e9
    if (i < setupReps - 1) {
      s.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    } else spark = s
    dt
  }

  private def guarded(body: => String): String =
    try body
    catch {
      case t: Throwable if !t.isInstanceOf[VirtualMachineError] ||
          t.isInstanceOf[StackOverflowError] => errText(t)
    }

  /** One timed execution: the closed loop's unit of work. `body` runs the
    * timed phases; its check, the cache flush and a GC fence follow,
    * outside the latency.
    */
  private def timed(pass: Int, name: String, module: String, parent: Int)(
      body: Int => Timed): Unit = {
    val qid = open("query", name, parent)
    val start = nowMs
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    var result = Timed(Nil)
    val runErr = guarded { result = body(qid); "" }
    val latency = (System.nanoTime() - t0) / 1e9
    val gcWindow = gcMs() - gc0
    val err = if (runErr.nonEmpty) runErr else result.check.fold("")(c => guarded(c()))
    val retained = if (!traced) 0L else
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val (_, flushS) = phase("flush", name, qid) {
      CacheScope.flush(spark, blocking = true)
    }
    close(qid)
    val heap = fencedHeapMb()
    execs += Json.obj(Seq(
      "pass" -> pass.toString, "span" -> qid.toString, "query" -> Json.str(name),
      "module" -> Json.str(module), "ok" -> err.isEmpty.toString,
      "checked" -> result.check.isDefined.toString,
      "error" -> Json.str(err), "start" -> Json.num(start),
      "latency_s" -> Json.num(latency), "flush_s" -> Json.num(flushS),
      "gc_jvm_ms" -> gcWindow.toString,
      "retained_mb" -> Json.num(retained / 1048576.0),
      "heap_mb" -> Json.num(heap)) ++ result.extra: _*)
  }

  /** A registry query: build, (traced) plan, then force. The cold pass
    * writes the full result as parquet, the copy the output check reads;
    * warm passes force it through the noop sink.
    */
  private def registryQuery(pass: Int, q: Q, parent: Int): Unit =
    timed(pass, q.name, Harness.moduleOf(q), parent) { qid =>
      val (df, buildS) = phase("build", q.name, qid)(q.fn(spark, dataDir))
      val planS = if (!traced) 0.0
        else phase("plan", q.name, qid)(df.queryExecution.executedPlan)._2
      val output = if (pass == 0) s"$runDir/output/${q.name}" else ""
      val (_, execS) = phase("exec", q.name, qid) {
        if (pass == 0) df.write.mode("overwrite").parquet(output) else noop(df)
      }
      Timed(Seq("build_s" -> Json.num(buildS), "plan_s" -> Json.num(planS),
        "exec_s" -> Json.num(execS), "output" -> Json.str(output)))
    }

  // ---- vpic: the gridded-analytics path on a generated VPIC tree ----

  private lazy val vpic = new VpicInput(seed, o("vpic-nz").toInt,
    o("vpic-nx").toInt, o("vpic-nt").toInt, s"$runDir/vpic")

  /** One pipeline iteration, checked by its X/O-null counts. */
  private def vpicIteration(pass: Int, parent: Int): Unit =
    timed(pass, "vpic_pipeline", "grid", parent) { qid =>
      def step[T](n: String)(body: => T): (T, Double) = phase("step", n, qid)(body)
      val (ds, loadS) = step("load")(VPICSource.loadDataset(spark, vpic.dir))
      // a 2-D tree keeps its singleton `iy` index column in the rows
      val b1 = ds.variables("b1")
      val b1df = b1.df.drop("iy"); val b2df = ds.variables("b2").df.drop("iy")
      val dims = Seq("iz" -> vpic.nz, "ix" -> vpic.nx)
      val smooth = GridOps.gaussianSmoothAxes(b1df, "value", 1.0, dims, "b1_smooth")
      val grad = GridOps.gradient(b1df, "value", "iz", vpic.d, "db1_dz")
      val flux = GridOps.fluxfn(
        b1df.select(col("it"), col("iz"), col("ix"), col("value").as("b1"))
          .join(b2df.select(col("it"), col("iz"), col("ix"), col("value").as("b2")),
            Seq("it", "iz", "ix")), "b1", "b2", vpic.d, vpic.d)
      val line = Seq(Array(0.0, 0.0), Array((vpic.nz - 1) * vpic.d, (vpic.nx - 1) * vpic.d))
      val slice = LineSlice.slice(b1, line).df
      // traced: plan each step's frame in its own span before forcing it
      var planS = 0.0
      def force(df: DataFrame, sid: Int): Unit = {
        if (traced) planS += phase("plan", "step", sid)(df.queryExecution.executedPlan)._2
        noop(df)
      }
      def forced(n: String, dfs: DataFrame*): Double =
        phase("step", n, qid) {
          val sid = spans.size - 1
          dfs.foreach(df => force(df, sid))
        }._2
      val scanS = forced("scan", ds.variables.values.map(_.df).toSeq: _*)
      val smoothS = forced("smooth", smooth)
      val gradS = forced("gradient", grad)
      val fluxS = forced("fluxfn", flux)
      val sliceS = forced("slice", slice)
      val (res, fsS) = step("find_structures") {
        val r = FindStructures(ds, smoothing = 1.0, deTol = 5.0)
        noop(r.sepMasks)
        r.dataset.variables.get("current_sheets").foreach(v => noop(v.df))
        r
      }
      val nX = res.xCoords.size; val nO = res.oCoords.size
      Timed(Seq("load_s" -> Json.num(loadS), "scan_s" -> Json.num(scanS),
        "smooth_s" -> Json.num(smoothS), "gradient_s" -> Json.num(gradS),
        "fluxfn_s" -> Json.num(fluxS), "slice_s" -> Json.num(sliceS),
        "plan_s" -> Json.num(planS), "find_structures_s" -> Json.num(fsS),
        "n_x" -> nX.toString, "n_o" -> nO.toString),
        Some(() => if (nX == vpic.expectedX && nO == vpic.expectedO) ""
          else s"X/O nulls $nX/$nO, expected ${vpic.expectedX}/${vpic.expectedO}"))
    }

  // ---- driver ----

  def execute(): Unit = {
    val all = QueryRegistry.all
    val dupNames = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dupNames.isEmpty, s"duplicate registry names: ${dupNames.mkString(", ")}")
    val queries: Seq[Q] =
      if (isVpic) Nil
      else {
        val included = Harness.resolve(all, o.list("include"))
        val excluded = Harness.resolve(all, o.list("exclude")).map(_.name).toSet
        if (included.nonEmpty) included else all.filterNot(q => excluded(q.name))
      }
    require(isVpic || queries.nonEmpty, s"workload $workload is empty")
    if (isVpic) vpic.write()

    val setupS = setup()
    if (traced) spark.sparkContext.addSparkListener(recorder)
    val wl = open("workload", workload, -1)
    val rng = new Random(Run.mix(seed, "order"))
    def pass(p: Int): Unit = {
      val pid = open("pass", p.toString, wl)
      if (isVpic) vpicIteration(p, pid)
      else rng.shuffle(queries).foreach(q => registryQuery(p, q, pid))
      close(pid)
      passEnds += Json.obj("pass" -> p.toString, "end" -> Json.num(nowMs),
        "scratch_mb" -> Json.num(if (traced) treeBytes(
          new java.io.File(System.getProperty("java.io.tmpdir"))) / 1048576.0 else 0.0))
    }
    val runStart = System.nanoTime()
    def elapsed(t0: Long) = (System.nanoTime() - t0) / 1e9
    pass(0)
    // Warm passes: at least one, then whole passes until `seconds` of
    // warm time, never past the deadline.
    val warmStart = System.nanoTime()
    var p = 1
    while (p == 1 || (elapsed(warmStart) < seconds &&
        elapsed(runStart) / p * (p + 1) < deadline)) {
      pass(p); p += 1
    }
    close(wl)

    if (traced) {
      val sc = spark.sparkContext
      sc.setJobGroup(DrainGroup, "listener drain marker", interruptOnCancel = false)
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val until = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!recorder.ended(DrainGroup) && System.nanoTime() < until)
        Thread.sleep(20)
      require(recorder.ended(DrainGroup), "listener bus did not drain")
    }

    val rt = ManagementFactory.getRuntimeMXBean
    val env = Json.obj(
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "scala" -> Json.str(scala.util.Properties.versionNumberString),
      "jdk" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "jvm_args" -> Json.arr(rt.getInputArguments.asScala
        .filter(a => a.startsWith("-X") || a.startsWith("-XX")).map(Json.str)),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "master" -> Json.str(spark.sparkContext.master),
      "executor_threads" -> spark.sparkContext.defaultParallelism.toString,
      "queries" -> queries.size.toString)
    val vpicJson = if (isVpic) vpic.describe else "null"
    Json.write(o("out"), Json.obj(
      "env" -> env,
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "execs" -> Json.arr(execs),
      "passes" -> Json.arr(passEnds), "vpic" -> vpicJson,
      "spans" -> Json.arr(spans.map(s => Json.obj("id" -> s.id.toString,
        "parent" -> s.parent.toString, "kind" -> Json.str(s.kind),
        "name" -> Json.str(s.name), "start" -> Json.num(s.start),
        "end" -> Json.num(s.end)))),
      "jobs" -> (if (traced) recorder.toJson(anchorMs, DrainGroup) else "[]")))
    spark.stop()
  }
}

/** The vpic workload's input, written as a chunked (one time step per
  * chunk), gzip-deflated HDF5 VPIC tree of one 2-D run: b1, b2 and jy,
  * the island-chain magnetic field
  *   b1 = k cos(k(z+ph)) sin(k(x+ph)),  b2 = k sin(k(z+ph)) cos(k(x+ph))
  * with k = 2π/16, a small noise field, and a current-density blob jy.
  * The seed sets the phase ph in [0.25, 0.75] and the noise. The nulls
  * are known in closed form: O points where both cosines vanish
  * (z+ph ≡ 4 mod 8 on both axes), X points where both sines do
  * (z+ph ≡ 0 mod 8). Axis lengths of 8m+7 cells keep the last null
  * along an axis at least 2.25 cells from the edge.
  */
final class VpicInput(seed: Long, val nz: Int, val nx: Int, nt: Int,
    val dir: String) {
  require(nz % 8 == 7 && nx % 8 == 7, "axis lengths must be 8m+7")
  val d = 1.0
  private val rng = new Random(Run.mix(seed, "vpic"))
  val phase: Double = 0.25 + 0.5 * rng.nextDouble()
  private val noiseAmp = 1e-3
  private val noiseSeed = rng.nextLong()
  private val k = 2 * math.Pi / 16

  /** Nulls strictly inside the grid along an axis of n cells. */
  private def nullsAlong(n: Int, offset: Int): Int =
    (1 to n).count(j => { val p = 8 * j - offset - phase; p > 0 && p < n - 1 })
  val expectedO: Int = nullsAlong(nz, 4) * nullsAlong(nx, 4)
  val expectedX: Int = nullsAlong(nz, 0) * nullsAlong(nx, 0)

  private def noise(salt: Int, it: Int, iz: Int, ix: Int): Double = {
    val h = (noiseSeed, salt, it, iz, ix).##
    noiseAmp * k * (h.toDouble / Int.MaxValue)
  }

  def write(): Unit = {
    val z = (0 until nz).map(_ * d).toArray
    val x = (0 until nx).map(_ * d).toArray
    val vars: Map[String, (Int, Int, Int, Int) => Double] = Map(
      "fields/b1" -> ((it, iz, _, ix) => k * math.cos(k * (iz + phase)) *
        math.sin(k * (ix + phase)) + noise(1, it, iz, ix)),
      "fields/b2" -> ((it, iz, _, ix) => k * math.sin(k * (iz + phase)) *
        math.cos(k * (ix + phase)) + noise(2, it, iz, ix)),
      "hydro/jy" -> ((it, iz, _, ix) => 50.0 * math.exp(
        -(math.pow(iz - nz / 3.0, 2) + math.pow(ix - nx / 3.0, 2)) / 8.0) +
        noise(3, it, iz, ix)))
    VPICSource.writeHdf5Tree(dir, (0 until nt).map(_.toDouble).toArray,
      z, Array(0.0), x, vars, chunkTime = Some(1), gzip = true)
  }

  def describe: String = Json.obj("nz" -> nz.toString, "nx" -> nx.toString,
    "nt" -> nt.toString, "cells" -> (nt.toLong * nz * nx).toString,
    "phase" -> Json.num(phase), "expected_x" -> expectedX.toString,
    "expected_o" -> expectedO.toString)
}
