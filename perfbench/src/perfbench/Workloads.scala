package perfbench

import graft.cli.{CliParametersParser, DatasetComparisonJob}
import graft.ops.{Catalog, Dedup, Layout, Versions}
import graft.ops.Dedup.NearDupIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Everything a workload needs from the harness: the session, the seed,
  * timed operations and spans. */
final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer) {
  /** op name → seconds, one entry per operation of the current iteration */
  val iteration = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** One user-visible operation: timed, run inside a span, then checked.
    * An exception or a failed check counts the operation as failed. */
  def op[T](name: String)(body: => T)(check: T => Seq[String]): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(name, Layers.Bench)(body)) catch {
      case e: Exception => Left(s"$name threw ${e.getClass.getName}: ${e.getMessage}")
    }
    iteration(name) = iteration.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    val errors = res match {
      case Left(err) => Seq(err)
      case Right(v) => try check(v) catch {
        case e: Exception => Seq(s"$name check threw ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    if (errors.nonEmpty) { failed += 1; failures ++= errors }
    res.toOption
  }

  def expect(cond: Boolean, msg: => String): Seq[String] = if (cond) Nil else Seq(msg)

  def delete(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

/** A closed-loop workload: `setup` builds fresh state under a directory,
  * each `iteration` runs one round of user operations against it. */
trait Workload {
  /** operations in iteration order */
  def ops: Seq[String]
  /** the operations behind the end-to-end metrics `primary_s`,
    * `secondary_s` and `tertiary_s`, in that order: one operation each,
    * or, on a workload with two, the whole iteration as the third */
  def slots: Seq[Seq[String]] = if (ops.size == 3) ops.map(Seq(_)) else ops.map(Seq(_)) :+ ops
  def sizes: String
  /** measured iterations a run makes at least */
  def minIterations: Int = 3
  def setup(dir: String): Unit
  def iteration(): Unit
  /** per-iteration results since set-up that must repeat exactly across
    * runs of one seed */
  def digest: Seq[String] = Nil
  def artifacts(): Map[String, Double]
  /** end-to-end metrics beyond the op medians, from op medians (name → s) */
  def derived(median: String => Double): Seq[(String, Double, String)]
}

object Workload {
  val OpNames: Seq[String] = Seq("diff_keyed", "diff_keyless", "merge_commit",
    "snapshot_read", "change_feed", "admit", "index_publish")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "diff" => new DiffWorkload(ctx, 50000L)
    case "lifecycle" => new LifecycleWorkload(ctx, 100000L, 16, 1000, 500, 1000, 10000)
    case "neardup" => new NearDupWorkload(ctx, 8000L, 2000)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (diff, lifecycle, neardup)")
  }
}

/** Hermes use case: keyed and keyless comparison through the CLI job. */
final class DiffWorkload(ctx: Ctx, n: Long) extends Workload {
  import ctx.spark
  private val parts = 4
  private val (changed, deleted, inserted) = Gen.diffPlanted(ctx.seed, n)
  private var dir = ""
  private var outSeq = 0

  val ops = Seq("diff_keyed", "diff_keyless")
  // an iteration is twice as long as on the other workloads
  override def minIterations = 2
  def sizes = s"$n reference rows in $parts files; planted changed=$changed " +
    s"deleted=$deleted inserted=$inserted"

  def setup(d: String): Unit = {
    dir = d
    Gen.diffReference(spark, ctx.seed, n, parts).write.parquet(s"$d/ref")
    Gen.diffActualSide(spark, ctx.seed, n, parts).write.parquet(s"$d/new")
  }

  def iteration(): Unit = {
    compare("diff_keyed", Seq("--keys", "id"), changed + deleted + inserted)
    compare("diff_keyless", Nil, 2 * changed + deleted + inserted)
  }

  private def compare(name: String, keyArgs: Seq[String], expected: Long): Unit = {
    val out = s"$dir/out-$outSeq"
    outSeq += 1
    val args = Seq("--format", "parquet", "--ref-path", s"$dir/ref",
      "--new-path", s"$dir/new", "--out-path", out) ++ keyArgs
    ctx.op(name) {
      ctx.tracer.span("DatasetComparisonJob.execute", "cli") {
        DatasetComparisonJob.execute(CliParametersParser.parse(args.toArray))(spark)
      }
    } { r =>
      val conf = spark.sparkContext.hadoopConfiguration
      val metrics = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(graft.io.PathResolver.readString(s"$out/_METRICS", conf))
      val written = spark.read.parquet(out).count()
      ctx.expect(r.diffCount == expected, s"$name diffCount ${r.diffCount} != planted $expected") ++
        ctx.expect(r.refRowCount == n, s"$name refRowCount ${r.refRowCount} != $n") ++
        ctx.expect(r.newRowCount == n - deleted + inserted,
          s"$name newRowCount ${r.newRowCount} != ${n - deleted + inserted}") ++
        ctx.expect(metrics.get("diffCount").asLong(-1L) == expected,
          s"$name _METRICS diffCount ${metrics.get("diffCount")} != $expected") ++
        ctx.expect(written == expected, s"$name wrote $written diff rows, expected $expected")
    }
    // the comparator leaves its inputs cached for the caller; a job that
    // ran once would exit here, a loop has to release them
    spark.catalog.clearCache()
    ctx.delete(out)
  }

  def artifacts(): Map[String, Double] = Map.empty
  def derived(median: String => Double): Seq[(String, Double, String)] = {
    val rows = (n + n - deleted + inserted).toDouble
    Seq(("diff_rows_per_s", 2 * rows / (median("diff_keyed") + median("diff_keyless")), "1/s"))
  }
}

/** Versioned table maintenance: merge-on-read CDC waves, snapshot reads
  * and the change feed between consecutive versions. */
final class LifecycleWorkload(ctx: Ctx, n: Long, files: Int, updates: Int,
    deletes: Int, inserts: Int, window: Int) extends Workload {
  import ctx.spark
  private var dir = ""
  private def table = s"$dir/t"
  private def cat = s"$dir/cat"
  private var live = new java.util.BitSet()
  private var liveCount = 0L
  private var liveKeySum = 0L
  private var nextKey = 0L
  private var version = 0
  private var wave = 0

  val ops = Seq("merge_commit", "snapshot_read", "change_feed")
  def sizes = s"$n rows in $files files; per wave $updates updates, $deletes deletes, " +
    s"$inserts inserts among the newest $window keys"

  def setup(d: String): Unit = {
    dir = d
    Gen.lifecycleBase(spark, ctx.seed, n, files).write.parquet(table)
    ctx.tracer.span("Layout.statsManifest", "ops.Layout") {
      Layout.statsManifest(spark, table, Seq("key")).write.parquet(s"$d/m0")
    }
    version = ctx.tracer.span("Catalog.commit", "ops.Catalog") {
      Catalog.commit(spark, cat, Map("manifest" -> s"$d/m0"))
    }
    require(version == 1, s"fresh catalog committed as v$version")
    live = new java.util.BitSet(n.toInt)
    live.set(0, n.toInt)
    liveCount = n
    liveKeySum = n * (n - 1) / 2
    nextKey = n
    wave = 0
  }

  private def emptyDv: DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL("file STRING, pos BIGINT"))

  private def dvOf(refs: Map[String, String]): DataFrame =
    refs.get("dv").map(spark.read.parquet(_)).getOrElse(emptyDv)

  def iteration(): Unit = {
    wave += 1
    val rnd = new java.util.Random(Gen.mix(ctx.seed, wave.toLong))
    val picked = mutable.LinkedHashSet.empty[Long]
    val lo = math.max(0L, nextKey - window)
    while (picked.size < updates + deletes) {
      val k = lo + (rnd.nextDouble() * (nextKey - lo)).toLong
      if (live.get(k.toInt)) picked += k
    }
    val (upd, del) = picked.toSeq.splitAt(updates)
    val ins = nextKey until nextKey + inserts
    val rows = upd.map { k => val r = Gen.tableRow(ctx.seed, k, wave)
        ChangeRec(k, r.grp, r.v, r.payload, is_delete = false) } ++
      del.map { k => ChangeRec(k, 0, 0.0, "", is_delete = true) } ++
      ins.map { k => val r = Gen.tableRow(ctx.seed, k, wave)
        ChangeRec(k, r.grp, r.v, r.payload, is_delete = false) }
    val cdc = s"$dir/cdc/w$wave"
    import spark.implicits._
    rows.toDS().coalesce(1).write.parquet(cdc)

    val before = version
    ctx.op("merge_commit") {
      ctx.tracer.span("Layout.mergeOnReadCommit", "ops.Layout") {
        Layout.mergeOnReadCommit(spark, table, cat, s"$dir/art",
          spark.read.parquet(cdc), "key", "is_delete", Seq("key"))
      }
    } { v =>
      val cur = ctx.tracer.span("Versions.current", "ops.Versions")(Versions.current(cat)(spark))
      ctx.expect(v == before + 1 && cur == v,
        s"merge_commit published v$v (current v$cur) after v$before")
    }.foreach(v => version = v)
    del.foreach(k => live.clear(k.toInt))
    ins.foreach(k => live.set(k.toInt))
    liveCount += inserts - deletes
    liveKeySum += ins.sum - del.sum
    nextKey += inserts

    val v = version
    ctx.op("snapshot_read") {
      val refs = ctx.tracer.span("Catalog.resolve", "ops.Catalog")(Catalog.resolve(spark, cat, v))
      ctx.tracer.span("Layout.snapshotReadWithDeletes", "ops.Layout") {
        Layout.snapshotReadWithDeletes(spark, table, spark.read.parquet(refs("manifest")),
          dvOf(refs)).agg(count(lit(1)), sum(col("key")), sum(col("v"))).head()
      }
    } { r =>
      ctx.expect(r.getLong(0) == liveCount && r.getLong(1) == liveKeySum,
        s"snapshot_read v$v: ${r.getLong(0)} rows, key sum ${r.getLong(1)}; " +
          s"expected $liveCount rows, key sum $liveKeySum")
    }

    ctx.op("change_feed") {
      val (oldRefs, newRefs) = ctx.tracer.span("Catalog.resolve", "ops.Catalog") {
        (Catalog.resolve(spark, cat, v - 1), Catalog.resolve(spark, cat, v))
      }
      ctx.tracer.span("Layout.snapshotDiff", "ops.Layout") {
        Layout.snapshotDiff(spark, table, spark.read.parquet(oldRefs("manifest")),
          spark.read.parquet(newRefs("manifest")), dvOf(oldRefs), dvOf(newRefs))
          .groupBy("_change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    } { feed =>
      val want = Map("insert" -> (updates + inserts).toLong, "delete" -> (updates + deletes).toLong)
      ctx.expect(feed.withDefaultValue(0L) == want.withDefaultValue(0L) &&
        feed.keySet.subsetOf(want.keySet), s"change_feed v${v - 1}→v$v: $feed, expected $want")
    }
    ctx.delete(cdc)
  }

  def artifacts(): Map[String, Double] = {
    val refs = Catalog.resolve(spark, cat, version)
    Map("lifecycle.manifest_rows" -> spark.read.parquet(refs("manifest")).count().toDouble,
      "lifecycle.dv_rows" -> dvOf(refs).count().toDouble)
  }

  def derived(median: String => Double): Seq[(String, Double, String)] = Nil
}

/** Daily admission of training data against a persisted near-dup index. */
final class NearDupWorkload(ctx: Ctx, corpus: Long, batch: Int) extends Workload {
  import ctx.spark
  private val tau = 0.7
  private var dir = ""
  private def indexPath = s"$dir/index"
  private var b = 0
  private var indexVersion = 0
  private val admitted = mutable.ArrayBuffer.empty[Long]

  val ops = Seq("admit", "index_publish")
  def sizes = s"corpus $corpus docs of ${Gen.DocTokens} tokens over a ${Gen.Vocab}-word " +
    s"vocabulary; batches of $batch docs"

  def setup(d: String): Unit = {
    dir = d
    admitted.clear()
    b = 0
    Gen.docs(spark, ctx.seed, corpus, batch, 0L, corpus, 4).write.parquet(s"$d/corpus")
    val idx = ctx.tracer.span("Dedup.nearDupIndex", "ops.Dedup") {
      Dedup.nearDupIndex(spark.read.parquet(s"$d/corpus"), "doc_id", "text")
    }
    indexVersion = ctx.tracer.span("NearDupIndex.publish", "ops.Dedup") {
      NearDupIndex.publish(idx, indexPath)(spark)
    }
  }

  def iteration(): Unit = {
    val in = s"$dir/in/b$b"
    val out = s"$dir/admitted/b$b"
    val from = corpus + b.toLong * batch
    Gen.docs(spark, ctx.seed, corpus, batch, from, from + batch, 2).write.parquet(in)
    val exact = Gen.plantedExact(ctx.seed, corpus, batch, b).toSet

    val idx = ctx.op("admit") {
      val idx = ctx.tracer.span("NearDupIndex.loadCurrent", "ops.Dedup") {
        NearDupIndex.loadCurrent(indexPath)(spark)
      }
      ctx.tracer.span("Dedup.nearDupFilter", "ops.Dedup") {
        Dedup.nearDupFilter(idx, spark.read.parquet(in), "doc_id", "text", tau)
          .write.parquet(out)
      }
      idx
    } { _ =>
      val ids = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0))
      admitted += ids.length.toLong
      val leaked = ids.filter(exact.contains)
      ctx.expect(leaked.isEmpty, s"admit batch $b let planted exact duplicates in: " +
        leaked.take(5).mkString(",")) ++
        ctx.expect(ids.nonEmpty && ids.length < batch, s"admit batch $b admitted ${ids.length}")
    }

    idx.foreach { idx =>
      ctx.op("index_publish") {
        val grown = ctx.tracer.span("NearDupIndex.extend", "ops.Dedup") {
          NearDupIndex.extend(idx, spark.read.parquet(out), "doc_id", "text")
        }
        ctx.tracer.span("NearDupIndex.publish", "ops.Dedup")(NearDupIndex.publish(grown, indexPath)(spark))
      } { v =>
        ctx.expect(v == indexVersion + 1, s"index_publish wrote v$v after v$indexVersion")
      }.foreach(v => indexVersion = v)
    }
    ctx.delete(in)
    b += 1
  }

  override def digest: Seq[String] = admitted.toSeq.map(_.toString)

  def artifacts(): Map[String, Double] =
    Map("neardup.index_band_rows" ->
      NearDupIndex.loadCurrent(indexPath)(spark).bands.count().toDouble)

  def derived(median: String => Double): Seq[(String, Double, String)] =
    Seq(("admit_docs_per_s", batch / median("admit"), "1/s"))
}
