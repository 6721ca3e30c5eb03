package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Index-family disk round trips through [[Versions]] — the build-once /
  * probe-many contract (gates e28/e29 prove oracle parity; these pin
  * structural equality loadCurrent(publish(x)) ≡ x, the on-disk layout,
  * and that a re-publication derived from the current version never
  * loses the image it read). */
class IndexPersistenceSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  private def vecs = Seq.tabulate(40)(i =>
    (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat)))
    .toDF("vec_id", "embedding")

  test("IvfIndex load(save(idx)) preserves centroids and assignment rows") {
    val idx = Similarity.ivfIndexSeeded(vecs, "vec_id", "embedding", nlist = 4)
    val path = s"${tmp("ivf")}/idx"
    Similarity.IvfIndex.publish(idx, path)
    val loaded = Similarity.IvfIndex.loadCurrent(path)

    assert(loaded.centroids.length === idx.centroids.length)
    loaded.centroids.zip(idx.centroids).foreach { case (a, b) =>
      assert(a.toSeq === b.toSeq) // bit-exact doubles through parquet
    }
    def rows(i: Similarity.IvfIndex) = i.assigned
      .select("id", "v", "vnorm", "cell")
      .collect().map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Double]](1).toSeq,
        r.getDouble(2), r.getInt(3))).toSet
    assert(rows(loaded) === rows(idx))
  }

  test("loaded IvfIndex replays knnJoin bit-exactly") {
    val idx = Similarity.ivfIndexSeeded(vecs, "vec_id", "embedding", nlist = 4)
    val path = s"${tmp("ivf-knn")}/idx"
    Similarity.IvfIndex.publish(idx, path)
    val expected = idx.knnJoin(k = 3, nprobe = 2)
      .orderBy("id", "rank").collect().map(_.toSeq)
    val got = Similarity.IvfIndex.loadCurrent(path).knnJoin(k = 3, nprobe = 2)
      .orderBy("id", "rank").collect().map(_.toSeq)
    assert(expected.nonEmpty)
    assert(got.toSeq === expected.toSeq)
  }

  test("versioned publish: pointer flips, time travel, vacuum retention") {
    val path = s"${tmp("ivf-versions")}/idx"
    val idx1 = Similarity.ivfIndexSeeded(vecs, "vec_id", "embedding", nlist = 4)
    val v1 = Similarity.IvfIndex.publish(idx1, path)
    assert(v1 === 1 && Similarity.IvfIndex.currentVersion(path) === 1)
    // maintain and publish v2 — v1's dir is never touched
    val idx2 = Similarity.IvfIndex.loadCurrent(path)
      .remove(Seq(0L, 1L).toDF("vec_id"), "vec_id")
    val v2 = Similarity.IvfIndex.publish(idx2, path)
    assert(v2 === 2 && Similarity.IvfIndex.currentVersion(path) === 2)
    def ids(i: Similarity.IvfIndex) =
      i.assigned.select("id").as[Long].collect().toSet
    // time travel: the pinned v1 still serves the pre-takedown snapshot
    assert(ids(Similarity.IvfIndex.loadVersion(path, 1)) === ids(idx1))
    assert(ids(Similarity.IvfIndex.loadCurrent(path)) ===
      ids(idx1) -- Set(0L, 1L))
    // vacuum to the newest version only: v1 gone, current unaffected
    assert(Similarity.IvfIndex.vacuumVersions(path, keep = 1) === Seq(1))
    assert(!new java.io.File(s"$path/v1").exists())
    assert(ids(Similarity.IvfIndex.loadCurrent(path)) ===
      ids(idx1) -- Set(0L, 1L))
    intercept[Exception] {
      Similarity.IvfIndex.loadVersion(path, 1).assigned.collect()
    }
  }

  test("versioned publish works for the text and vector-LSH families " +
      "(shared Versions machinery)") {
    // text LSH
    val tPath = s"${tmp("ndx-versions")}/idx"
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    assert(Dedup.NearDupIndex.publish(
      Dedup.nearDupIndex(docs, "doc_id", "text"), tPath) === 1)
    val shrunk = Dedup.NearDupIndex.remove(
      Dedup.NearDupIndex.loadCurrent(tPath),
      docs.filter(col("doc_id") === 0L), "doc_id", "text")
    assert(Dedup.NearDupIndex.publish(shrunk, tPath) === 2)
    assert(Dedup.NearDupIndex.loadVersion(tPath, 1)
      .fingerprints.count() === 2) // time travel: pre-takedown snapshot
    assert(Dedup.NearDupIndex.loadCurrent(tPath).fingerprints.count() === 1)
    assert(Versions.vacuum(tPath, keep = 1) === Seq(1))

    // vector LSH
    val vPath = s"${tmp("vlsh-versions")}/idx"
    val corpus = Seq(
      (0L, Array.tabulate(8)(d => if (d == 0) 10.0 else 0.1)),
      (1L, Array.tabulate(8)(d => if (d == 1) 10.0 else 0.1)))
      .toDF("vec_id", "v")
    val vIdx = Dedup.vectorNearDupIndex(corpus, "vec_id", "v",
      dim = 8, bits = 6)
    assert(Dedup.VectorNearDupIndex.publish(vIdx, 8, 6, vPath) === 1)
    assert(Dedup.VectorNearDupIndex.publish(
      Dedup.VectorNearDupIndex.remove(
        Dedup.VectorNearDupIndex.loadCurrent(vPath).buckets,
        Seq(0L).toDF("id"), "id"), 8, 6, vPath) === 2)
    assert(Dedup.VectorNearDupIndex.loadVersion(vPath, 1)
      .buckets.count() === 2)
    assert(Dedup.VectorNearDupIndex.loadCurrent(vPath).buckets.count() === 1)
    assert(Versions.vacuum(vPath, keep = 1) === Seq(1))
  }

  test("assignment table is cell-partitioned on disk (probe prunes files)") {
    val idx = Similarity.ivfIndexSeeded(vecs, "vec_id", "embedding", nlist = 4)
    val path = s"${tmp("ivf-layout")}/idx"
    val v = Similarity.IvfIndex.publish(idx, path)
    val dirs = new java.io.File(s"${Versions.versionDir(path, v)}/assigned")
      .listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("cell=")),
      s"expected cell=N partition dirs, got $dirs")
  }

  test("PqCodebook load(save(cb)) ≡ cb, and the loaded encode matches") {
    val cb = Similarity.PqCodebook.fit(vecs, "vec_id", "embedding", m = 4, k = 4)
    val path = s"${tmp("pq")}/cb"
    Similarity.PqCodebook.publish(cb, path)
    val loaded = Similarity.PqCodebook.loadCurrent(path)

    assert(loaded.m === cb.m && loaded.k === cb.k)
    loaded.seeds.zip(cb.seeds).foreach { case (a, b) =>
      assert(a.toSeq === b.toSeq)
    }
    def codes(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("id", "sub").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(
      codes(loaded.encode(vecs, "vec_id", "embedding")) ===
      codes(Similarity.productQuantize(vecs, "vec_id", "embedding", m = 4, k = 4)))
  }

  test("re-publication: a second save REPLACES what load reads") {
    // the second publish is what loadCurrent reads — never a suffixed
    // sibling that leaves readers on the stale first index — while the
    // first image stays intact as v1
    val path = s"${tmp("ivf-republish")}/idx"
    val idx1 = Similarity.ivfIndexSeeded(vecs, "vec_id", "embedding", nlist = 4)
    Similarity.IvfIndex.publish(idx1, path)
    val grown = vecs.unionAll(Seq((500L,
      Array.tabulate(8)(j => math.tan(j + 1).toFloat))).toDF("vec_id", "embedding"))
    val idx2 = Similarity.ivfIndexSeeded(grown, "vec_id", "embedding", nlist = 4)
    Similarity.IvfIndex.publish(idx2, path)
    val loaded = Similarity.IvfIndex.loadCurrent(path)
    assert(loaded.assigned.count() === idx2.assigned.count())
    assert(loaded.assigned.filter(col("id") === 500L).count() === 1L,
      "loadCurrent must see the re-published index, not the stale first one")
    assert(Similarity.IvfIndex.loadVersion(path, 1).assigned.count() ===
      idx1.assigned.count())
    // no suffixed sibling directories left behind by the re-publish
    val parent = new java.io.File(path).getParentFile.listFiles().map(_.getName)
    assert(parent.toSeq === Seq("idx"), s"unexpected siblings: ${parent.toSeq}")
    assert(Versions.listVersions(path) === Seq(1, 2))
  }

  test("re-publication: PqCodebook second save wins") {
    val path = s"${tmp("pq-republish")}/cb"
    val cb1 = Similarity.PqCodebook.fit(vecs, "vec_id", "embedding", m = 4, k = 4)
    Similarity.PqCodebook.publish(cb1, path)
    val cb2 = Similarity.PqCodebook.fit(vecs, "vec_id", "embedding", m = 2, k = 8)
    Similarity.PqCodebook.publish(cb2, path)
    val loaded = Similarity.PqCodebook.loadCurrent(path)
    assert(loaded.m === 2 && loaded.k === 8,
      "loadCurrent must see the re-published codebook geometry")
    val first = Similarity.PqCodebook.loadVersion(path, 1)
    assert(first.m === 4 && first.k === 4,
      "codes encoded against v1 must keep decoding against v1")
  }

  test("maintenance cycle: save → load → add → remove → save → load ≡ " +
      "batch rebuild over the surviving set") {
    val path = s"${tmp("ivf-cycle")}/idx"
    Similarity.IvfIndex.publish(
      Similarity.ivfIndexSeeded(vecs, "vec_id", "embedding", nlist = 4), path)
    val batch = Seq.tabulate(6)(i => (100L + i,
      Array.tabulate(8)(j => math.cos(i * 8 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val day2 = Similarity.IvfIndex.loadCurrent(path)
      .addVectors(batch, "vec_id", "embedding")
    val pruned = day2.remove(
      day2.assigned.select(col("id").as("vec_id"))
        .filter(col("vec_id") % 5 === 0), "vec_id")
    Similarity.IvfIndex.publish(pruned, path) // v2, same root
    val loaded = Similarity.IvfIndex.loadCurrent(path)
    // oracle: one rebuild-shaped index over exactly the surviving set,
    // with the ORIGINAL build's centroids (maintenance never refits)
    val survivors = vecs.unionAll(batch).filter(col("vec_id") % 5 =!= 0)
    val rebuilt = Similarity.IvfIndex(loaded.assigned.limit(0),
        loaded.centroids)
      .addVectors(survivors, "vec_id", "embedding")
    def rows(i: Similarity.IvfIndex) = i.assigned
      .select("id", "v", "vnorm", "cell")
      .collect().map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Double]](1).toSeq,
        r.getDouble(2), r.getInt(3))).toSet
    assert(rows(loaded) === rows(rebuilt))
    assert(!rows(loaded).exists(_._1 % 5 == 0))
    assert(rows(loaded).exists(_._1 >= 100L))
  }

  test("PqCodebook encodes a NEW batch the codebook never saw") {
    // the production shape: codebook trained on day-1 corpus, applied
    // to a later batch without re-derivation (no ids 0..k−1 needed)
    val cb = Similarity.PqCodebook.fit(vecs, "vec_id", "embedding", m = 4, k = 4)
    val path = s"${tmp("pq-batch")}/cb"
    Similarity.PqCodebook.publish(cb, path)
    val batch = Seq((1000L, Array.tabulate(8)(j => math.cos(j).toFloat)))
      .toDF("vec_id", "embedding")
    val out = Similarity.PqCodebook.loadCurrent(path)
      .encode(batch, "vec_id", "embedding")
      .collect()
    assert(out.length === 4) // one code per subspace
    assert(out.forall(_.getLong(0) == 1000L))
  }

  test("NearDupIndex re-published to the same RELATIVE root from its own " +
      "loadCurrent loses no rows and leaves v1 untouched") {
    // the read-your-own-overwrite shape: the second image is derived
    // from loadCurrent(root) and published back under root, which is
    // spelled relative to the working directory. Each version is a new
    // directory, so the publish never deletes the files its plan reads.
    val root = s"target/graft-relroot-${java.util.UUID.randomUUID()}/idx"
    assert(!new java.io.File(root).isAbsolute)
    val corpus = (0 until 30).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta ${i % 5} " +
        s"eta theta iota kappa ${i}")).toDF("doc_id", "text")
    val batch = (100 until 110).map(i =>
      (i.toLong, s"completely fresh document body $i with unique words " +
        s"like pterodactyl$i and quux$i")).toDF("doc_id", "text")
    def image(idx: Dedup.NearDupIndex) = (
      idx.fingerprints.collect().toSet,
      idx.bands.collect().toSet,
      idx.hashes.collect().map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Long]](1).toSeq)).toSet)
    try {
      assert(Dedup.NearDupIndex.publish(
        Dedup.nearDupIndex(corpus, "doc_id", "text"), root) === 1)
      val day1 = Dedup.NearDupIndex.loadCurrent(root)
      val (fp1, bands1, hashes1) = image(day1)
      assert(Dedup.NearDupIndex.publish(
        Dedup.NearDupIndex.extend(day1, batch, "doc_id", "text"), root) === 2)
      val (fp2, bands2, hashes2) = image(Dedup.NearDupIndex.loadCurrent(root))
      // no rows lost: v2 holds every v1 row plus the batch
      assert(fp1.subsetOf(fp2) && fp2.size === fp1.size + 10)
      assert(bands1.subsetOf(bands2) && bands2.size > bands1.size)
      assert(hashes1.subsetOf(hashes2) && hashes2.size === hashes1.size + 10)
      // time travel: v1 is the untouched first image
      assert(image(Dedup.NearDupIndex.loadVersion(root, 1)) ===
        ((fp1, bands1, hashes1)))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(root).getParentFile)
    }
  }

  test("version writer fails loudly instead of writing over an existing " +
      "version directory") {
    // a stray v1 image with no markers: publish claims v1 (no marker
    // names it) and its ErrorIfExists writer must refuse the directory
    val path = s"${tmp("ndx-collision")}/idx"
    val stray = s"${Versions.versionDir(path, 1)}/fingerprints"
    Seq(42L).toDF("fingerprint").write.parquet(stray)
    val docs = Seq((0L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    intercept[org.apache.spark.sql.AnalysisException] {
      Dedup.NearDupIndex.publish(
        Dedup.nearDupIndex(docs, "doc_id", "text"), path)
    }
    assert(spark.read.parquet(stray).as[Long].collect().toSeq === Seq(42L))
    assert(Versions.listVersions(path).isEmpty, "nothing may commit")
  }
}
