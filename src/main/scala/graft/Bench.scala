package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times each SparkEntry query (fully consumed via
  * count()) and prints ONE JSON line. A warmup action runs first so the
  * first timed query doesn't absorb session/codegen/filesystem init. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // fresh warehouse per run: managed-table gates (q22) must never pay
    // for — or collide with — state accreted by earlier runs in cwd
    val warehouse = java.nio.file.Files
      .createTempDirectory("graft-bench-wh").toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: exercise the hot paths once (scan, shuffle, window,
    // explode, join, collect) so JIT/codegen/session init lands here
    // instead of inflating the alphabetically-first timed queries
    {
      import org.apache.spark.sql.functions._
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("r_name").orderBy("n_name")))
        .select(explode(split(col("n_name"), "")).as("ch"), col("rn"))
        .groupBy("ch").agg(sum("rn")).count()
      n.select(md5(concat_ws("|", col("n_name"))),
        graft.functions.shingleHash64(split(col("n_name"), " "), 2)).count()
      // warm the managed-table write path too (FileFormatWriter,
      // committer, bucketing codegen): r5's q22 measured 6.6 s cold vs
      // 1.8 s warm — the cost was first-touch JIT of the write machinery,
      // not the exchange-free join (0.5 s) or the writes themselves (1.2 s)
      n.limit(5).write.mode("overwrite").bucketBy(2, "n_nationkey")
        .sortBy("n_nationkey").saveAsTable("graft_warmup_bucketed")
      spark.sql("DROP TABLE IF EXISTS graft_warmup_bucketed")
    }

    // optional dev-loop filter: SPARK_GRAFT_ONLY=q1_agg,d9_dup_clusters
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // each query runs REPS times and reports the MIN — separates plan
    // cost from JIT/GC run-position noise (BASELINE.md records ±40%
    // single-shot swing; r5's "q22 regression" was exactly this)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val best = scala.collection.mutable.Map[String, Double]()
    val bestProbes = scala.collection.mutable.Map[String, Map[String, Double]]()
    def timeOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
               catch { case e: Throwable =>
                 // surface the reason: a silent -1 cost round 8 a log dive
                 System.err.println(s"[bench] $name failed: ${e.getMessage}")
                 false }
      val sec = (System.nanoTime() - t0) / 1e9
      val p = graft.util.BenchProbe.drain()
      // a failed rep must never override a valid measurement with its
      // (often near-zero) abort time — min over SUCCESSFUL reps only
      if (ok && sec < best.getOrElse(name, Double.MaxValue)) {
        best(name) = sec; bestProbes(name) = p
      }
    }
    // whole-suite passes with ALTERNATING order (forward, reversed, …)
    // instead of per-query back-to-back reps: a GC pause or JIT churn
    // that inflates one contiguous run-position window (r6's q47–q52
    // cluster read 2.8–5.2× in the driver run, 1.0× isolated) hits
    // DIFFERENT queries each pass, so the per-query min sheds it
    for (r <- 1 to reps) {
      val order = if (r % 2 == 0) names.reverse else names
      order.foreach { case (n, f) => timeOne(n, f) }
    }
    // sub-second queries get one extra sample: a single 300 ms pause
    // distorts them several-fold while barely moving a 5 s query, and
    // re-running only them costs a few seconds over the whole suite
    names.filter { case (n, _) => best.get(n).exists(_ < 1.0) }
      .foreach { case (n, f) => timeOne(n, f) }
    // heavy queries (min > 2 s) get a third sample too: they dominate
    // the suite total, so one GC/JIT-inflated pair of reps moves the
    // headline by whole seconds — a third draw lets the min shed a
    // suite-position artifact (r13 measured identical code at 385 s vs
    // 295 s back-to-back; the movers were all multi-second queries)
    names.filter { case (n, _) => best.get(n).exists(_ > 2.0) }
      .foreach { case (n, f) => timeOne(n, f) }

    val results = names.map { case (n, _) => n -> best.getOrElse(n, -1.0) }
    val failed = results.count(_._2 < 0) // -1 marks broken, see below
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // probe keys are query-scoped by convention (q22_write_li …) but
    // nothing enforces it: qualify any key that doesn't already carry
    // its query's name so the probes object can never hold duplicate
    // keys (duplicate keys = technically invalid JSON)
    val ps = bestProbes.toSeq
      .flatMap { case (q, m) => m.map { case (k, v) =>
        (if (k.startsWith(q)) k else s"$q.$k") -> v } }
      .sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // a query whose reps ALL failed keeps its -1 marker per-query but is
    // EXCLUDED from the headline sum — a broken query must surface as
    // "failed":N, not as a faster-looking total
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // whole-run JVM counters, so hot/cold runs are distinguishable from
    // real plan regressions when comparing rounds: a 30% total swing
    // with 2x the gc_ms/jit_ms is the VM, not the code (r13's 385 s vs
    // 295 s back-to-back on identical code)
    val (gcMs, gcCount) = {
      import scala.jdk.CollectionConverters._
      val beans = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala
      (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
    }
    val jitMs = java.lang.management.ManagementFactory
      .getCompilationMXBean.getTotalCompilationTime
    val jvm = s""""gc_ms":$gcMs,"gc_count":$gcCount,"jit_ms":$jitMs"""
    val jsonLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"probes":$ps,"reps":$reps,"failed":$failed,$jvm,"sf":"$sfDir"}"""
    println(jsonLine)
    // The driver records only the last 2000 chars of stdout and parses
    // the last complete JSON line in that tail, so the full line above
    // (≈10 KB at 325 queries) arrives beheaded. Emit a FINAL line
    // carrying the contract keys with as many per-query entries as fit
    // the tail budget, largest-time first (those drive any per-query
    // perf/scaling comparison; the omitted tail queries are each well
    // under a second). The complete map still lives in the full line
    // above and in bench_results.json. Locale.ROOT: the default-locale
    // "%.3f" renders decimal COMMAS on e.g. de_DE JVMs, which would make
    // this line invalid JSON. Nothing may be printed after this line.
    val sorted = results.filter(_._2 >= 0).sortBy(-_._2)
    val fixedPart =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"reps":$reps,"failed":$failed,$jvm,"note":"queries holds the top-N by time that fit the driver's 2000-char stdout tail; full map in bench_results.json","queries":{}}"""
    val budget = 1900 - fixedPart.length
    val entries = scala.collection.mutable.ArrayBuffer[String]()
    var used = 0
    sorted.foreach { case (k, v) =>
      val e = "\"" + k + "\":" +
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      if (used + e.length + 1 <= budget) { entries += e; used += e.length + 1 }
    }
    val contract = fixedPart.replace("\"queries\":{}",
      "\"queries\":" + entries.mkString("{", ",", "}"))
    println(contract)
    // the driver keeps only a short tail of stdout, which truncates the
    // per-query map — persist the COMPLETE result line so every query's
    // timing survives into the repo history
    // ... but NEVER from a SPARK_GRAFT_ONLY dev-loop run: a filtered
    // subset overwriting the full-suite record would make the repo's
    // bench history lie (override the out path explicitly to keep one)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "" else "bench_results.json")
    if (out.nonEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (jsonLine + "\n").getBytes("UTF-8"))
      catch { case e: Exception =>
        System.err.println(s"bench_results write failed: $e") }
    // cumulative per-query trend: one (run_ts, query, seconds) row per
    // query per full-suite run, appended so regressions are greppable
    // across rounds without parsing historical BENCH_r*.json tails.
    // Dev-loop (SPARK_GRAFT_ONLY) runs are excluded for the same reason
    // they skip bench_results.json: a filtered subset is not a trend point.
    if (only.isEmpty) try {
      val trend = java.nio.file.Paths.get("bench_trend.csv")
      val ts = java.time.Instant.now().toString
      val header = if (java.nio.file.Files.exists(trend)) ""
                   else "run_ts,query,seconds\n"
      val rows = results.map { case (k, v) => s"$ts,$k,$v" }.mkString("", "\n", "\n")
      java.nio.file.Files.write(trend, (header + rows).getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Exception =>
      System.err.println(s"bench_trend write failed: $e") }
    spark.stop()
    // the per-run warehouse holds full bucketed tables — don't litter /tmp
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(warehouse))
  }
}
