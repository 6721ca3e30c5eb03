package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.net.URI

/** Source/sink descriptor (reference `dataFrame/Parameters.scala:21-42`):
  * `path` doubles as the JDBC dbtable when format == "jdbc". `saveMode`
  * (sink-only, default Spark's ErrorIfExists) maps to
  * `DataFrameWriter.mode`; file sinks normally rely on the
  * collision-free path resolution (K2) instead, but jdbc sinks have no
  * path to suffix, so overwrite is the idempotent-rerun story there. */
case class SourceParams(
    format: String,
    path: Option[String] = None,
    options: Map[String, String] = Map.empty,
    saveMode: Option[String] = None,
    partitionBy: Seq[String] = Nil) {

  def isJdbc: Boolean = format.equalsIgnoreCase("jdbc")

  def validated: SourceParams = {
    if (format.isEmpty) throw new IllegalArgumentException("format is mandatory")
    if (!isJdbc && path.isEmpty)
      throw new IllegalArgumentException(s"path is mandatory for format '$format'")
    if (isJdbc && !options.contains("dbtable"))
      throw new IllegalArgumentException("jdbc sources need a dbtable option")
    this
  }
}

/** Generic any-format reader/writer (reference `dataFrame/Utils.scala:30-68`).
  * Every format Spark 4 bundles works through here: parquet, csv, json,
  * xml (native in Spark 4), avro, orc, text, jdbc. */
object DataFrameIO {

  private val AvroFqcn = "org.apache.spark.sql.avro.AvroFileFormat"

  /** The avro shortname is not service-registered in every Spark distro
    * (historically avro is the external org.apache.spark:spark-avro
    * module — the reference declared it as an extra dependency,
    * `project/Dependencies.scala:62` — and Spark 4.1 bundles the classes
    * in spark-sql WITHOUT registering the shortname). Resolving "avro" to
    * the provider FQCN works in both cases; when the classes are genuinely
    * absent, fail fast with an actionable message instead of Spark's
    * generic lookup error. */
  private def resolveFormat(format: String): String =
    if (format.equalsIgnoreCase("avro")) {
      if (classAvailable(AvroFqcn)) AvroFqcn
      else throw new IllegalStateException(
        "avro needs spark-avro on the classpath: the avro datasource is the " +
        "external org.apache.spark:spark-avro module (not bundled with Spark); " +
        "add the spark-avro jar matching your Spark version via --jars or --packages")
    } else format

  private def classAvailable(fqcn: String): Boolean =
    try { Class.forName(fqcn); true } catch { case _: ClassNotFoundException => false }

  def load(p: SourceParams)(implicit spark: SparkSession): DataFrame = {
    val reader = spark.read.format(resolveFormat(p.format)).options(p.options)
    if (p.isJdbc) reader.load() else reader.load(p.path.get)
  }

  /** Write, resolving a collision-free path first (K2: existing target →
    * `_<millis>` suffix). An explicit `saveMode = overwrite` OPTS OUT of
    * K2 and writes the requested path in place — a sink option for jobs
    * that rerun into a fixed location, where a suffixed sibling would
    * leave downstream readers on the stale output. Returns the path
    * actually written (empty for jdbc sinks). */
  def write(df: DataFrame, p: SourceParams)(implicit spark: SparkSession): String = {
    val base = df.write.format(resolveFormat(p.format)).options(p.options)
    val parted = if (p.partitionBy.isEmpty) base
                 else base.partitionBy(p.partitionBy: _*)
    val writer = p.saveMode.fold(parted)(parted.mode)
    if (p.isJdbc) { writer.save(); "" }
    else {
      val target =
        if (p.saveMode.exists(_.equalsIgnoreCase("overwrite"))) p.path.get
        else PathResolver.uniquePath(p.path.get, spark)
      writer.save(target)
      target
    }
  }
}

/** Driver-side filesystem helpers (reference `PathResolver.scala`,
  * `S3Location.scala:28`, `DatasetComparisonJob.scala:97-109`). */
object PathResolver {

  private val S3Location = "^(s3[an]?)://([-a-z0-9.]{3,63})(/.*)?$".r

  def isS3(path: String): Boolean = S3Location.findFirstIn(path).isDefined

  /** FileSystem owning `path` (explicit URI scheme wins, default FS else). */
  def fsFor(path: String, conf: Configuration): FileSystem = {
    val uri = URI.create(path)
    if (uri.getScheme == null) FileSystem.get(conf) else FileSystem.get(uri, conf)
  }

  /** Collision-free output location: append `_<currentTimeMillis>` while
    * the target exists (reference `dataFrame/Utils.scala:38-46`), with a
    * monotone counter tiebreak — the reference's bare-millis loop spins
    * forever within one clock tick on a fast filesystem. */
  def uniquePath(path: String, spark: SparkSession): String = {
    val fs = fsFor(path, spark.sparkContext.hadoopConfiguration)
    var candidate = path
    var bump = 0L
    while (fs.exists(new Path(candidate))) {
      val suffix = System.currentTimeMillis() + bump
      candidate = s"${path}_$suffix"
      bump += 1
    }
    candidate
  }

  /** Driver-side small-file write (metrics JSON, diff reports). */
  def writeString(path: String, content: String, conf: Configuration): Unit = {
    val fs = fsFor(path, conf)
    val out = fs.create(new Path(path), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Driver-side small-file read (pinned schema JSON, _INFO files). */
  def readString(path: String, conf: Configuration): String = {
    val fs = fsFor(path, conf)
    val in = fs.open(new Path(path))
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
}
