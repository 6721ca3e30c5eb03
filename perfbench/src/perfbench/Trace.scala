package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Call site → layer. A layer is a graft module; a job belongs to the
  * innermost graft frame of its call site whose module is a layer, so a
  * helper module (graft.ops.Merge, graft.functions) is charged to the
  * layer that called it. */
object Layers {

  val Graft: Seq[String] = Seq("cli", "io", "diff", "schema", "ops.Layout",
    "ops.Catalog", "ops.Versions", "ops.Ckpt", "ops.Dedup")
  val Bench = "bench"
  val Unattributed = "unattributed"
  val All: Seq[String] = Graft ++ Seq(Bench, Unattributed)

  private val Frame = """^\s*(?:at\s+)?(?:[^\s/]*/)*([\w$.]+)\.[\w$<>]+\(.*$""".r

  /** Module of a JVM class name: `graft.ops.Layout$anon$1` → `ops.Layout`,
    * `graft.cli.CliParametersParser$` → `cli`. None outside graft. */
  def moduleOf(cls: String): Option[String] =
    if (!cls.startsWith("graft.")) None
    else {
      val parts = cls.stripPrefix("graft.").split('.')
      if (parts.length == 1) Some(parts(0).takeWhile(_ != '$'))
      else if (parts(0) == "ops") Some("ops." + parts(1).takeWhile(_ != '$'))
      else Some(parts(0))
    }

  sealed trait Site
  final case class InGraft(layer: String) extends Site
  case object InBench extends Site
  case object Unknown extends Site

  /** Classify a long-form call site (one stack frame per line, innermost
    * first, Spark's own frames already stripped by Spark). */
  def classify(longForm: String): Site = {
    val classes = longForm.split('\n').iterator.collect { case Frame(c) => c }
    var site: Site = Unknown
    while (site == Unknown && classes.hasNext) {
      val c = classes.next()
      if (c.startsWith("perfbench.")) site = InBench
      else moduleOf(c).filter(Graft.contains).foreach(l => site = InGraft(l))
    }
    site
  }
}

/** Spans around the benchmark's calls into graft plus one SparkListener
  * that charges every job, task, shuffle and output byte to a layer.
  * Everything stays in memory; [[write]] dumps the spans once at the end. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  final case class Span(id: Int, parent: Int, name: String, layer: String,
      startMs: Long, endMs: Long, wallNs: Long)
  final case class Job(id: Int, layer: String, span: Int, startMs: Long,
      var endMs: Long = -1L)
  final class LayerTotals {
    var jobs = 0L; var tasks = 0L; var taskMs = 0L
    var shuffleBytes = 0L; var writeBytes = 0L
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  @volatile private var attached = false

  // listener state; the listener-bus thread writes, the client thread
  // reads after a drain
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private val execSite = mutable.HashMap.empty[Long, Layers.Site]
  val layers: Map[String, LayerTotals] = Layers.All.map(_ -> new LayerTotals).toMap

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSite.synchronized(execSite(s.executionId) = Layers.classify(s.details))
      case _ =>
    }
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val props = Option(js.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val spanId = prop(SpanKey).map(_.toInt).getOrElse(-1)
      val spanLayer = prop(LayerKey).getOrElse(Layers.Bench)
      val direct = js.stageInfos.iterator.map(s => Layers.classify(s.details))
        .find(_ != Layers.Unknown).getOrElse(Layers.Unknown)
      // pool-thread jobs (broadcast, AQE stages) carry only JDK frames:
      // fall back to the call site of their SQL execution
      val site = if (direct != Layers.Unknown) direct
        else prop("spark.sql.execution.id").flatMap(id =>
          execSite.synchronized(execSite.get(id.toLong))).getOrElse(Layers.Unknown)
      val layer = site match {
        case Layers.InGraft(l) => l
        case Layers.InBench => spanLayer // consuming a frame graft returned
        case Layers.Unknown => Layers.Unattributed
      }
      jobs.synchronized {
        jobs(js.jobId) = Job(js.jobId, layer, spanId, js.time)
        js.stageInfos.foreach(s => stageLayer.getOrElseUpdate(s.stageId, layer))
        layers(layer).jobs += 1
      }
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      jobs.synchronized(jobs.get(je.jobId).foreach(_.endMs = je.time))
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = jobs.synchronized {
      val t = layers(stageLayer.getOrElse(te.stageId, Layers.Unattributed))
      t.tasks += 1
      Option(te.taskMetrics).foreach { m =>
        t.taskMs += m.executorRunTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.writeBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def attach(): Unit = if (!attached) { sc.addSparkListener(listener); attached = true }
  def detach(): Unit = if (attached) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    attached = false
  }

  /** Run `body` inside a span charged to `layer`; a no-op wrapper while
    * the listener is detached. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!attached) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prevSpan = sc.getLocalProperty(SpanKey)
      val prevLayer = sc.getLocalProperty(LayerKey)
      sc.setLocalProperty(SpanKey, id.toString)
      sc.setLocalProperty(LayerKey, layer)
      stack = id :: stack
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, layer, startMs, System.currentTimeMillis(),
          System.nanoTime() - t0)
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prevSpan)
        sc.setLocalProperty(LayerKey, prevLayer)
      }
    }

  def allJobs: Seq[Job] = jobs.synchronized(jobs.values.toList)

  /** Ids of `root` and every span nested under it. */
  def subtree(root: Int): Set[Int] = {
    val children = spans.groupBy(_.parent)
    def walk(id: Int): Set[Int] =
      children.getOrElse(id, Nil).map(s => walk(s.id)).foldLeft(Set(id))(_ ++ _)
    walk(root)
  }

  /** Wall time inside [startMs, endMs] covered by no running job. */
  def gapMs(startMs: Long, endMs: Long): Long = {
    val iv = allJobs.filter(j => j.endMs >= startMs && j.startMs <= endMs)
      .map(j => (math.max(j.startMs, startMs), math.min(math.max(j.endMs, j.startMs), endMs)))
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE >= 0) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) covered += curE - curS
    math.max(0L, endMs - startMs - covered)
  }

  /** Span self time: wall minus the part its child spans cover. */
  def selfNs(s: Span): Long =
    s.wallNs - spans.iterator.filter(_.parent == s.id).map(_.wallNs).sum

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val jobsBySpan = allJobs.groupBy(_.span)
    val lines = spans.sortBy(_.id).map { s =>
      val js = jobsBySpan.getOrElse(s.id, Nil)
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallNs / 1e9},""" +
        s""""self_s":${selfNs(s) / 1e9},"jobs":${js.size},""" +
        s""""job_layers":{${js.groupBy(_.layer).toSeq.sortBy(_._1)
          .map { case (l, j) => s""""$l":${j.size}""" }.mkString(",")}}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val LayerKey = "perfbench.layer"
}
