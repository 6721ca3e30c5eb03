package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Closed-loop benchmark: one client thread, each operation starts
  * when the previous one has finished.
  *
  *   perfbench.Main --workload diff|lifecycle|neardup --seed N --seconds S
  *                  --trace 0|1 --work DIR [--trace-out FILE] [--expect-dir DIR]
  *   perfbench.Main --archive --work DIR
  *
  * Set-up builds the workload's inputs and state `SetupReps` times from
  * scratch and reports the median. One warm-up iteration follows, so the
  * first operation of each type runs before timing. The measured phase
  * then runs iterations for `--seconds` seconds. The last stdout line is
  * the JSON result. */
object Main {
  val SetupReps = 3
  val SlotNames = Seq("primary_s", "secondary_s", "tertiary_s")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(argv: Array[String]): Unit = {
    val archive = argv.contains("--archive")
    val args = argv.filterNot(_ == "--archive").sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = if (archive) "archive" else need("workload")
    val work = need("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (archive) sparkRoundTrip(spark, work)
      else run(spark, workload, need("seed").toLong, need("seconds").toDouble,
        need("trace") == "1", work, args, cores)
    } finally spark.stop()
  }

  /** A small parquet write, read, join and aggregate: the Spark classes
    * a class-data-sharing archive records at exit. */
  private def sparkRoundTrip(spark: SparkSession, work: String): Unit = {
    spark.range(1000).selectExpr("id", "id % 7 AS g", "named_struct('a', id, 'b', array(id)) AS s")
      .write.parquet(s"$work/round-trip")
    val back = spark.read.parquet(s"$work/round-trip")
    back.join(back.groupBy("g").count(), "g").selectExpr("sum(count)", "max(s.a)").collect()
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
      traced: Boolean, work: String, args: Map[String, String], cores: Int): Unit = {
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, seed, tracer)
    val wl = Workload(name, ctx)
    println(s"# workload=$name seed=$seed cores=$cores ${wl.sizes}")
    println(f"# jvm start to session ${(System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.3f s")

    // ---- set-up: inputs and graft state built from scratch, repeatedly;
    // then one warm-up iteration, the first operation of each type
    val setupTimes = (0 until SetupReps).map { rep =>
      if (rep > 0) ctx.delete(s"$work/state${rep - 1}")
      val t0 = System.nanoTime()
      wl.setup(s"$work/state$rep")
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"# set-up $rep: $dt%.3f s")
      dt
    }
    val tw = System.nanoTime()
    wl.iteration()
    val warmup = (System.nanoTime() - tw) / 1e9
    println(f"# warm-up iteration: $warmup%.3f s " +
      s"(${ctx.iteration.map { case (k, v) => f"$k $v%.3f" }.mkString(", ")})")
    ctx.iteration.clear()

    // ---- measured phase
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val perOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val iterTimes = mutable.ArrayBuffer.empty[(Boolean, Double)] // (traced, seconds)
    val opSpans = mutable.ArrayBuffer.empty[Int]
    val tStart = System.nanoTime()
    var i = 0
    // start an iteration only if it should end inside the window (typical
    // length: the median so far, or the warm-up's on the first); at least
    // the workload's minimum run, so the median is never a lone sample; a
    // traced run needs a full ABBA block
    val minIterations = if (traced) math.max(4, wl.minIterations) else wl.minIterations
    val walls = mutable.ArrayBuffer(warmup)
    def typical = median(walls.takeRight(math.max(1, walls.size - 1)).toSeq)
    while (i < minIterations || (System.nanoTime() - tStart) / 1e9 + typical < seconds) {
      // traced and untraced iterations in ABBA order, so a warm-up trend
      // over the run does not bias the tracing overhead
      val tracedIter = traced && (i % 4 == 0 || i % 4 == 3)
      val w0 = System.nanoTime()
      if (tracedIter) tracer.attach()
      val firstSpan = tracer.spans.size
      wl.iteration()
      if (tracedIter) tracer.detach()
      tracer.spans.iterator.drop(firstSpan).filter(_.parent == -1).foreach(s => opSpans += s.id)
      ctx.iteration.foreach { case (op, s) => perOp.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += s }
      iterTimes += tracedIter -> ctx.iteration.values.sum
      walls += (System.nanoTime() - w0) / 1e9
      ctx.iteration.clear()
      i += 1
    }
    expectSame(ctx, wl.digest, args.get("expect-dir").map(d =>
      s"$d/$name-seed$seed-${Integer.toHexString(wl.sizes.hashCode)}.txt"))
    val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1000.0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    def opMedian(op: String): Double = median(perOp.getOrElse(op, Nil).toSeq)
    def count(op: String): Int = perOp.get(op).map(_.size).getOrElse(0)
    val untracedIters = iterTimes.collect { case (false, s) => s }.toSeq
    val perIter = perOp.values.map(_.size).maxOption.getOrElse(0)
    // per-iteration sums of the ops behind one metric
    def sums(ops: Seq[String]): Seq[Double] =
      (0 until perIter).map(k => ops.map(o => perOp.get(o).flatMap(_.lift(k)).getOrElse(0.0)).sum)

    wl.ops.foreach(op => println(f"# $op%s_s ${opMedian(op)} s (median of n=${count(op)}: " +
      perOp.getOrElse(op, Nil).map(v => f"$v%.3f").mkString(" ") + ")"))
    wl.derived(opMedian).foreach { case (m, v, u) => println(s"# $m $v $u") }
    println(s"# failed_ops ${ctx.failed.toDouble / math.max(1L, ctx.attempted)} " +
      s"(${ctx.failed} of ${ctx.attempted})")
    ctx.failures.take(10).foreach(f => println(s"# FAILED: $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!traced) ("setup_s", median(setupTimes), "s") +:
        SlotNames.zip(wl.slots).map { case (m, ops) => (m, median(sums(ops)), "s") }
      else {
        val tracedIters = iterTimes.collect { case (true, s) => s }.toSeq
        val art = wl.artifacts()
        layerMetrics(tracer, tracedIters.size, opSpans.toSeq) ++ Seq(
          ("jvm.gc_s", gcS, "s"),
          ("jvm.heap_peak_mb", heapPeakMb, "MB"),
          ("trace.overhead_s", median(tracedIters) - median(untracedIters), "s")) ++
          Seq("lifecycle.manifest_rows", "lifecycle.dv_rows", "neardup.index_band_rows")
            .map(k => (k, art.getOrElse(k, 0.0), "rows"))
      }
    args.get("trace-out").filter(_ => traced).foreach(p => tracer.write(java.nio.file.Paths.get(p)))

    val json = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {$json}}""")
  }

  /** Results that must repeat exactly across runs of one seed (one entry
    * per iteration) are kept in `file`; a later run must agree with it
    * on every iteration both ran, and extends it when it ran more. */
  private def expectSame(ctx: Ctx, digest: Seq[String], file: Option[String]): Unit =
    file.filter(_ => digest.nonEmpty).foreach { f =>
      val path = java.nio.file.Paths.get(f)
      val before = if (java.nio.file.Files.exists(path))
        new String(java.nio.file.Files.readAllBytes(path), "UTF-8").split('\n').toSeq.filter(_.nonEmpty)
        else Nil
      val n = math.min(before.size, digest.size)
      if (before.take(n) != digest.take(n)) {
        ctx.failed += 1
        ctx.failures += s"results differ from an earlier run of this seed: " +
          s"${digest.take(n).mkString(",")} vs ${before.take(n).mkString(",")}"
      } else if (digest.size > before.size) {
        java.nio.file.Files.createDirectories(path.getParent)
        java.nio.file.Files.write(path, digest.mkString("", "\n", "\n").getBytes("UTF-8"))
      }
    }

  /** Per-layer totals per traced iteration, per-op span medians, and the
    * share of jobs no layer claimed. */
  private def layerMetrics(tracer: Tracer, iterations: Int,
      opSpans: Seq[Int]): Seq[(String, Double, String)] = {
    val per = math.max(1, iterations).toDouble
    val jobs = tracer.allJobs
    val spanById = tracer.spans.map(s => s.id -> s).toMap
    val selfByLayer = tracer.spans.groupBy(_.layer).view
      .mapValues(_.map(tracer.selfNs).sum / 1e9).toMap
    val layer = Layers.All.flatMap { l =>
      val t = tracer.layers(l)
      Seq((s"$l.jobs", t.jobs / per, "count"), (s"$l.tasks", t.tasks / per, "count"),
        (s"$l.task_s", t.taskMs / 1000.0 / per, "s"),
        (s"$l.span_s", selfByLayer.getOrElse(l, 0.0) / per, "s"),
        (s"$l.shuffle_mb", t.shuffleBytes / 1048576.0 / per, "MB"),
        (s"$l.write_mb", t.writeBytes / 1048576.0 / per, "MB"))
    }
    val byOp = opSpans.flatMap(spanById.get).groupBy(_.name)
    val span = Workload.OpNames.flatMap { op =>
      val ss = byOp.getOrElse(op, Nil)
      def med(f: tracer.Span => Double) = if (ss.isEmpty) 0.0 else median(ss.map(f))
      Seq((s"span.$op.wall_s", med(_.wallNs / 1e9), "s"),
        (s"span.$op.jobs", med(s => { val ids = tracer.subtree(s.id)
          jobs.count(j => ids.contains(j.span)).toDouble }), "count"),
        (s"span.$op.gap_s", med(s => tracer.gapMs(s.startMs, s.endMs) / 1000.0), "s"))
    }
    val unattributed = tracer.layers(Layers.Unattributed).jobs.toDouble / math.max(1, jobs.size)
    layer ++ span :+ (("trace.unattributed_share", unattributed, "ratio"))
  }
}
