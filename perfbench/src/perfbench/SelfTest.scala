package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own tests, at small sizes: generators are a pure
  * function of the seed, planted counts match the generated data, and
  * call sites map to the right layer, on synthetic stacks and on a real
  * traced Spark job. Exits non-zero on the first failed group.
  *
  *   python3 perfbench/run.py --self-test */
object SelfTest {
  private var passed = 0

  private def check(cond: Boolean, what: => String): Unit = {
    if (!cond) throw new AssertionError(what)
    passed += 1
  }

  def main(argv: Array[String]): Unit = {
    val work = argv.sliding(2, 2).collect { case Array("--work", w) => w }.toSeq.headOption
      .getOrElse(throw new IllegalArgumentException("missing --work"))
    mapper()
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      generators(spark, work)
      tracedAttribution(spark, work)
    } finally spark.stop()
    println(s"selftest: $passed checks passed")
  }

  /** Order-independent content digest: row count and the sum of per-row
    * hashes over every column. */
  private def content(ds: Dataset[_]): (Long, Long) = {
    val r = ds.toDF().agg(count(lit(1)), sum(xxhash64(ds.columns.map(col).toIndexedSeq: _*)
      .cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1).longValue)
  }

  private def generators(spark: SparkSession, work: String): Unit = {
    def roundTrip(name: String, ds: Dataset[_]): (Long, Long) = {
      val path = s"$work/gen/$name"
      ds.write.mode("overwrite").parquet(path)
      content(spark.read.parquet(path))
    }
    val n = 5000L
    def all(seed: Long): Seq[(Long, Long)] = Seq(
      roundTrip(s"ref-$seed", Gen.diffReference(spark, seed, n, 3)),
      roundTrip(s"new-$seed", Gen.diffActualSide(spark, seed, n, 3)),
      roundTrip(s"table-$seed", Gen.lifecycleBase(spark, seed, n, 3)),
      roundTrip(s"docs-$seed", Gen.docs(spark, seed, 300L, 100, 0L, 500L, 3)))
    val a = all(7L)
    // a different partitioning must not change the content either
    val repart = content(Gen.diffReference(spark, 7L, n, 5))
    val b = all(7L)
    val c = all(8L)
    check(a == b, s"same seed gave different content: $a vs $b")
    check(repart == a.head, s"partitioning changed the reference content: $repart vs ${a.head}")
    a.zip(c).zipWithIndex.foreach { case ((x, y), i) =>
      check(x != y, s"seeds 7 and 8 gave identical content for input $i: $x")
    }

    val (changed, deleted, inserted) = Gen.diffPlanted(7L, n)
    check(changed > 0 && deleted > 0 && inserted == n / 1000,
      s"planted counts $changed/$deleted/$inserted")
    check(a(1)._1 == n - deleted + inserted, s"actual side has ${a(1)._1} rows, " +
      s"expected ${n - deleted + inserted}")
    val ref = spark.read.parquet(s"$work/gen/ref-7")
    val act = spark.read.parquet(s"$work/gen/new-7")
    val differing = ref.join(act, Seq("id"), "full_outer")
      .filter(!(ref("name") <=> act("name") && ref("score") <=> act("score") &&
        ref("attrs") <=> act("attrs") && ref("items") <=> act("items")))
    check(differing.count() == changed + deleted + inserted,
      s"ref vs actual differ in ${differing.count()} ids, planted ${changed + deleted + inserted}")

    // planted exact duplicates normalize to a document that came earlier
    val c0 = 300L
    val size = 100
    val exact = Gen.plantedExact(7L, c0, size, 1)
    check(exact.nonEmpty, "batch 1 plants no exact duplicates")
    def norm(s: String) = s.trim.replaceAll("\\s+", " ").toLowerCase
    exact.foreach { id =>
      Gen.docKind(7L, c0, size, id) match {
        case Gen.ExactOf(src) =>
          check(src < id && norm(Gen.docText(7L, c0, size, src)) == norm(Gen.docText(7L, c0, size, id)),
            s"doc $id is not an exact copy of $src")
        case other => check(false, s"doc $id planted as $other")
      }
    }
  }

  private def mapper(): Unit = {
    import Layers._
    def stack(frames: String*) = frames.mkString("\n")
    val spark = "org.apache.spark.sql.Dataset.collect(Dataset.scala:10)"
    check(classify(stack(spark, "graft.ops.Layout$.statsManifest(Layout.scala:600)",
      "perfbench.LifecycleWorkload.setup(Workloads.scala:1)")) == InGraft("ops.Layout"), "Layout frame")
    check(classify(stack(spark, "graft.ops.Merge$.applyChanges(Merge.scala:5)",
      "graft.ops.Layout$.mergeOnReadCommit(Layout.scala:480)")) == InGraft("ops.Layout"),
      "helper module charged to its caller's layer")
    check(classify(stack(spark, "graft.ops.Ckpt$.pinned(Ckpt.scala:40)",
      "graft.ops.Dedup$.nearDupFilter(Dedup.scala:450)")) == InGraft("ops.Ckpt"), "Ckpt frame")
    check(classify(stack(spark, "graft.io.DataFrameIO$.write(DataFrameIO.scala:80)",
      "graft.ops.Dedup$NearDupIndex$.save(Dedup.scala:280)")) == InGraft("io"), "io frame")
    check(classify(stack(spark, "graft.ops.Dedup$NearDupIndex$.$anonfun$save$1(Dedup.scala:280)"))
      == InGraft("ops.Dedup"), "nested object and lambda frame")
    check(classify(stack(spark, "graft.schema.Flattener$.maxArrayLengths(Flattener.scala:9)",
      "graft.diff.DatasetComparator.compare(DatasetComparator.scala:80)")) == InGraft("schema"),
      "schema frame")
    check(classify(stack(spark, "perfbench.NearDupWorkload.iteration(Workloads.scala:9)",
      "graft.ops.Dedup$.nearDupFilter(Dedup.scala:450)")) == InBench, "bench frame first")
    check(classify(stack("java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)",
      "java.base/java.lang.Thread.run(Thread.java:840)")) == Unknown, "pool thread")
    check(moduleOf("graft.cli.DatasetComparisonJob$") == Some("cli"), "cli module")
    check(moduleOf("graft.SparkEntry$") == Some("SparkEntry"), "top-level module")
    check(moduleOf("org.apache.spark.sql.graftbridge.ColumnBridge$").isEmpty, "bridge is Spark")
  }

  /** A real traced call: every job of a manifest build is charged to
    * ops.Layout (or ops.Ckpt below it), none left unattributed. */
  private def tracedAttribution(spark: SparkSession, work: String): Unit = {
    val dir = s"$work/traced"
    Gen.lifecycleBase(spark, 3L, 2000L, 4).write.parquet(dir)
    val tracer = new Tracer(spark.sparkContext)
    tracer.attach()
    val rows = tracer.span("manifest", Layers.Bench) {
      tracer.span("Layout.statsManifest", "ops.Layout") {
        graft.ops.Layout.statsManifest(spark, dir, Seq("key")).count()
      }
    }
    tracer.span("glue", Layers.Bench)(spark.read.parquet(dir).count())
    tracer.detach()
    check(rows == 4L, s"manifest has $rows rows, expected 4")
    val jobs = tracer.allJobs
    val manifestSpans = tracer.subtree(tracer.spans.find(_.name == "manifest").get.id)
    val layers = jobs.filter(j => manifestSpans.contains(j.span)).map(_.layer).toSet
    check(layers.nonEmpty && layers.subsetOf(Set("ops.Layout", "ops.Ckpt")),
      s"manifest jobs charged to $layers")
    check(jobs.exists(_.layer == Layers.Bench), "glue job not charged to bench")
    check(!jobs.exists(_.layer == Layers.Unattributed),
      s"unattributed jobs: ${jobs.filter(_.layer == Layers.Unattributed)}")
    check(tracer.layers("ops.Layout").tasks > 0, "no tasks charged to ops.Layout")
  }
}
