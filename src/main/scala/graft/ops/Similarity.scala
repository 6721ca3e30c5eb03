package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Ckpt.CkptSyntax

/** Similarity search over an embedding column (SURVEY.md §7).
  *
  * Cosine is computed on double-cast arrays with a SEQUENTIAL left fold
  * (`aggregate` over `zip_with`), making the floating-point result
  * bit-identical to an equivalent `list_reduce` fold in DuckDB — the
  * oracle compares doubles exactly, no epsilon.
  */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns — the
    * codegen'd [[graft.functions.ArrayDotProduct]] expression
    * (bit-identical to the `aggregate(zip_with(...))` formulation and to
    * the DuckDB oracle's `list_reduce` fold, ~10× cheaper per row). */
  def dot(a: Column, b: Column): Column = graft.functions.dotProduct(a, b)

  /** Driver-side sequential-fold dot product — the same 0.0-seeded
    * left fold as [[graft.functions.ArrayDotProduct]], so constants
    * derived from it (centroid norms) are bit-identical to what the
    * in-plan expression would have produced. */
  private[ops] def dotArr(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); i += 1 }
    d
  }

  /** Cosine similarity; 0.0 when either norm is zero. */
  def cosine(a: Column, b: Column): Column = {
    val denom = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** Brute-force cosine top-k against one query vector, as a DataFrame
    * with (id, cos). The query side is a 1-row broadcast cross join, so
    * the plan is a single scan + per-row expression + distributed top-k
    * (TakeOrderedAndProject) — the right baseline shape at any scale. */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: DataFrame, // 1 row, column "q" array<double>
      k: Int): DataFrame = {
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .crossJoin(broadcast(query))
      .select(col("id"), cosine(col("v"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** Two-stage coarse-to-fine ANN over a query panel: score every
    * corpus vector against every query on a PREFIX of the embedding
    * (the Matryoshka / truncated-dimension trick — prefixDim ≪ dim, so
    * the coarse pass costs dim/prefixDim× less than exact), keep the
    * top `candidates` per query in a bounded heap, then rerank ONLY
    * those survivors with the full-dimension cosine.
    *
    * Scale posture: the panel broadcasts (no corpus shuffle); the
    * coarse stage's shuffle carries (qid, id, score) triples already
    * capped at `candidates` per query PER TASK by the map-side partial
    * heap — never the vectors, never n·|panel| rows. The fine stage
    * broadcasts the tiny candidate list back against the corpus (one
    * broadcast hash join probes corpus by id, ≤ |panel|·candidates
    * rows survive), so full-width vectors are only read where they are
    * reranked. Deterministic: ties break toward the larger id on both
    * stages, which the e15 oracle replays with `ORDER BY score DESC,
    * id DESC` row_number windows.
    *
    * Recall caveat (by design, same as any truncated first pass): a
    * true top-k member ranked below `candidates` on the prefix is
    * lost; widen `candidates` or `prefixDim` to trade cost for recall.
    *
    * @return (qid, rank, cos, id) — rank 1..k per query by full cosine
    */
  def rerankTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      prefixDim: Int,
      candidates: Int,
      k: Int): DataFrame = {
    require(prefixDim > 0, s"prefixDim must be positive, got $prefixDim")
    require(k > 0 && candidates >= k,
      s"need k > 0 and candidates >= k, got k=$k candidates=$candidates")
    val c = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val q = queries.select(col(qidCol).cast("long").as("qid"),
      col(qvecCol).cast("array<double>").as("qv"))
    val coarse = c.crossJoin(broadcast(q))
      .select(col("id"), col("qid"),
        dot(slice(col("v"), 1, prefixDim), slice(col("qv"), 1, prefixDim))
          .as("coarse"))
    val cand = TopK.perGroup(coarse, Seq("qid"),
        Seq(col("coarse"), col("id")), candidates)
      .select(col("qid"), col("id"))
    val fine = c.join(broadcast(cand), Seq("id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("id"), cosine(col("v"), col("qv")).as("cos"))
    TopK.perGroup(fine, Seq("qid"), Seq(col("cos"), col("id")), k)
      .select(col("qid"), col("rank"), col("cos"), col("id"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein,
    * SIGIR'98, public): greedily pick k results balancing relevance to
    * the query against redundancy with what's already picked —
    * score(c) = relW·cos(c, q) − divW·max_{s∈S} cos(c, s) — the
    * standard diversity pass a retrieval pipeline runs after top-N.
    *
    * Shape at scale: stage 1 is the DISTRIBUTED part — brute-force
    * relevance over the whole corpus reduced to a `fetch`-row panel by
    * a TakeOrdered top-k (no global sort). MMR itself is inherently
    * sequential (each pick changes every remaining score), so stage 2
    * runs the k-step greedy driver-side over that bounded panel —
    * O(fetch·dim) bytes, the same blessed-panel posture as the IVF
    * centroid collects; it is NOT a data-scale collect. Determinism:
    * ties break toward the smaller id at both stages; the driver fold
    * uses the same 0.0-seeded sequential dot as the in-plan kernel, so
    * the e22 oracle replays every pick bit-exactly with unrolled CTEs.
    *
    * relW/divW are taken as given literals (NOT relW and 1−relW: the
    * float 1−0.7 is 0.30000000000000004, which would never match a SQL
    * 0.3). `query` excludes itself only if the caller filters it.
    *
    * @return (rank, id, rel, score) — rank 1..k in pick order
    */
  def mmrRerank(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Double],
      fetch: Int,
      k: Int,
      relW: Double = 0.7,
      divW: Double = 0.3): DataFrame = {
    require(k >= 1 && fetch >= k, s"need 1 <= k <= fetch, got k=$k fetch=$fetch")
    val spark = df.sparkSession
    val qlit = array(query.toSeq.map(lit): _*)
    val panel = df
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .select(col("id"), col("v"), cosine(col("v"), qlit).as("rel"))
      .orderBy(col("rel").desc, col("id"))
      .limit(fetch)
      .collect() // bounded panel: fetch rows × dim doubles
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Double]]("v").toArray, r.getDouble(2)))
    def cosArr(a: Array[Double], b: Array[Double]): Double = {
      val den = math.sqrt(dotArr(a, a)) * math.sqrt(dotArr(b, b))
      if (den == 0.0) 0.0 else dotArr(a, b) / den
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
    val selVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val remaining = scala.collection.mutable.ArrayBuffer(panel: _*)
    for (rank <- 1 to math.min(k, panel.length)) {
      var bi = -1; var bId = 0L; var bRel = 0.0; var bScore = 0.0
      for (i <- remaining.indices) {
        val (id, v, rel) = remaining(i)
        val maxSim = if (selVecs.isEmpty) 0.0 else selVecs.map(cosArr(v, _)).max
        val score = relW * rel - divW * maxSim
        if (bi < 0 || score > bScore || (score == bScore && id < bId)) {
          bi = i; bId = id; bRel = rel; bScore = score
        }
      }
      selected += ((rank, bId, bRel, bScore))
      selVecs += remaining(bi)._2
      remaining.remove(bi)
    }
    import spark.implicits._
    selected.toSeq.toDF("rank", "id", "rel", "score")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR'09,
    * public) of ranked candidate lists — the standard way to combine a
    * lexical (BM25/Jaccard) and a semantic (embedding-cosine) retriever
    * without score calibration, fused here in FIXED-POINT integer
    * arithmetic: contribution(list, d) = scale div (kk + rank_list(d)),
    * summed over the lists that retrieved d. Integer contributions sum
    * associatively, so fused scores are bit-identical under any
    * partitioning AND any list count — the textbook float
    * 1/(kk+rank) formulation would drift in the last ulp for 3+ lists.
    *
    * Scale posture: each input is already a per-query bounded candidate
    * list (top-N from its retriever), so the union shuffles (qid, id,
    * contribution) triples bounded by N·|lists| per query — never
    * documents or vectors; the per-query pick is the bounded-heap TopK
    * aggregate (map-side partial heaps, no window sort). Ties break
    * toward the larger id, matching [[TopK.perGroup]] order, which the
    * e17 oracle replays with `ORDER BY rrf_score DESC, id DESC`.
    *
    * CONTRACT: ranks are 1-based and non-null. A rank ≤ 0 or NULL is a
    * caller bug (an OFF-BY-ONE from a 0-based window, or a failed join
    * leaking nulls) that would otherwise skew or silently drop that
    * document's contribution — `scale div (kk + 0)` inflates it,
    * negative ranks can divide by zero or flip sign, and NULL vanishes
    * from the sum. All three fail the job loudly instead (codegen'd
    * row-level guard — no extra pass, no driver-side action).
    *
    * @param lists ranked lists, each with (qidCol, idCol, rankCol),
    *              rank 1-based non-null
    * @return (qid, rank, id, rrf_score) — rank 1..k per query
    */
  def rrfFuse(
      lists: Seq[DataFrame],
      qidCol: String,
      idCol: String,
      rankCol: String,
      k: Int,
      kk: Int = 60,
      scale: Long = 1000000000000L): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k > 0 && kk >= 0 && scale > 0,
      s"need k > 0, kk >= 0, scale > 0; got k=$k kk=$kk scale=$scale")
    val u = lists.map(_.select(
        col(qidCol).cast("long").as("qid"),
        col(idCol).cast("long").as("id"),
        col(rankCol).cast("long").as("r")))
      .reduce(_.unionAll(_))
      .select(col("qid"), col("id"),
        // when() sends NULL ranks to the error branch too (NULL >= 1
        // is not true), so malformed lists cannot leak past here
        when(col("r") >= 1, expr(s"CAST($scale AS BIGINT) div ($kk + r)"))
          .otherwise(raise_error(concat(
            lit("rrfFuse: rank must be >= 1 and non-null, got "),
            coalesce(col("r").cast("string"), lit("NULL")))))
          .as("c"))
    val fused = u.groupBy("qid", "id").agg(sum("c").as("rrf_score"))
    TopK.perGroup(fused, Seq("qid"), Seq(col("rrf_score"), col("id")), k)
      .select(col("qid"), col("rank"), col("id"), col("rrf_score"))
  }

  /** IVF (inverted-file) approximate search: k-means the corpus into
    * `nlist` cells offline, search only the `nprobe` cells whose
    * centroids are closest to the query.
    *
    * Scale path: the assignment table is partitioned by cell id; a query
    * prunes to nprobe/nlist of the data. Centroids are tiny and live in
    * a broadcast. Recall is tested against [[bruteForceTopK]] in the
    * spec.
    */
  def ivfIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      seed: Long = 42L): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"),
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    // few iterations suffice: cells only need to be reasonable Voronoi
    // buckets, not converged centroids (recall comes from nprobe)
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(8)
      .setFeaturesCol("features")
      .fit(vecs.select("features"))
    val assigned = model.transform(vecs)
      .select(col("id"), col("v"), sqrt(dot(col("v"), col("v"))).as("vnorm"),
        col("prediction").as("cell"))
      .repartition(col("cell"))
    IvfIndex(assigned, model.clusterCenters.map(_.toArray))
  }

  /** Deterministic IVF variant: centroids are the vectors of the first
    * `nlist` ids (a sampling-seeded coarse quantizer with no Lloyd
    * refinement — recall still comes from `nprobe`). Assignment is
    * argmax-cosine with a min-index tiebreak, computed with the same
    * sequential-fold arithmetic as the DuckDB oracle, so the whole
    * index → probe → top-k path is exactly replayable in SQL. Use
    * [[ivfIndex]] when centroid quality matters more than auditability.
    *
    * PRECONDITION (shared with [[kmeansFixedPoint]], which [[ivfIndex]]
    * callers composing the two inherit): ids 0..nlist−1 must exist —
    * seeding is BY ID so the seed set is reproducible in the oracle.
    * Non-dense ids (1-based, hash-keyed) fail fast with this require;
    * re-key densely first (`row_number() − 1` over a deterministic
    * order) rather than seeding from arbitrary rows, which would make
    * every downstream score order-dependent.
    *
    * Scale shape is identical to [[ivfIndex]]: the only driver-side data
    * is the nlist centroid rows (tiny, broadcast as literals into the
    * assignment expression); the assignment table partitions by cell. */
  def ivfIndexSeeded(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int): IvfIndex = {
    val v = col(vecCol).cast("array<double>")
    val cents: Array[Array[Double]] = df
      .select(col(idCol).cast("long").as("id"), v.as("v"))
      .filter(col("id") < nlist).orderBy("id")
      .collect().map(_.getAs[scala.collection.Seq[Double]]("v").toArray)
    require(cents.length == nlist,
      s"ivfIndexSeeded seeds centroids from ids 0..${nlist - 1} but only " +
      s"${cents.length} such row(s) exist — re-key ids densely from 0 " +
      "(row_number() - 1 over a deterministic order) or lower nlist")

    IvfIndex(assignToCentroids(df, idCol, vecCol, cents), cents)
  }

  /** Argmax-cosine assignment of (id, vec) rows to a FIXED centroid
    * panel — the shared kernel of [[ivfIndexSeeded]] and
    * [[IvfIndex.addVectors]].
    *
    * cosine(v, c_j) = dot(v, c_j) / (‖v‖·‖c_j‖) with ‖v‖ computed ONCE
    * per row and ‖c_j‖ folded to a Scala constant: bit-identical to the
    * full cosine expression (same fold order, same multiply order) but
    * an 8-centroid score list embeds each 64-literal array once instead
    * of three times — codegen stays small enough to compile fast. */
  private def assignToCentroids(df: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]]): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val withNorm = df
      .select(col(idCol).cast("long").as("id"), v.as("v"))
      .withColumn("vnorm", sqrt(dot(col("v"), col("v"))))
    val scored = cents.toSeq.map { c =>
      val cn = math.sqrt(Similarity.dotArr(c, c))
      val d = dot(col("v"), array(c.map(lit).toSeq: _*))
      when(col("vnorm") * lit(cn) === 0.0, lit(0.0))
        .otherwise(d / (col("vnorm") * lit(cn)))
    }
    // (−cos, cid) structs: array_min picks max cosine, lowest cid on
    // ties — same tiebreak as the oracle's ORDER BY cos DESC, cid
    val cell = array_min(array(scored.zipWithIndex.map { case (cs, j) =>
      struct((-cs).as("ncs"), lit(j).as("cid"))
    }: _*)).getField("cid")
    withNorm
      .select(col("id"), col("v"), col("vnorm"), cell.as("cell"))
      .repartition(col("cell"))
  }

  case class IvfIndex(assigned: DataFrame, centroids: Array[Array[Double]]) {

    /** Index maintenance for a GROWING corpus: assign a batch of new
      * vectors to the existing centroid panel and union them in — no
      * refit, no touch of already-assigned rows. Because assignment is
      * a pure function of (vector, centroids), the updated index is
      * EXACTLY the index a batch rebuild over old ∪ new would produce
      * (spec + gate e14 prove equality) — so a 100 TB deployment can
      * absorb daily vector batches with one assignment projection +
      * one cell-partitioned append instead of an O(corpus) rebuild.
      * Cell skew is the caveat at scale (new data drifting from the
      * frozen centroids concentrates in few cells); re-seed when the
      * audit says so. */
    def addVectors(df: DataFrame, idCol: String, vecCol: String): IvfIndex =
      IvfIndex(assigned.unionAll(
        Similarity.assignToCentroids(df, idCol, vecCol, centroids)), centroids)

    /** Index maintenance for a SHRINKING corpus — the GDPR/takedown
      * path: drop the listed ids from the index. No tombstone table is
      * needed because the index IS per-id assignment rows: a left-anti
      * join on id (ids-only shuffle; the centroid panel is untouched)
      * removes exactly those rows. The contract worth proving (spec +
      * gate e25) is rebuild-equivalence: assignment is a pure per-row
      * function of (vector, frozen centroids), so the filtered index
      * EQUALS the index a full rebuild over the surviving corpus would
      * produce — deleted ids can never surface as neighbors, and every
      * surviving (cell, cos) is bit-identical. Deletes never trigger a
      * refit; a 100 TB deployment folds takedown batches at O(index
      * scan) with the delete list broadcast. Shrunken cells are the
      * mirror of [[addVectors]]' drift caveat — re-seed when the cell
      * histogram says so. */
    def remove(ids: DataFrame, idCol: String): IvfIndex =
      IvfIndex(assigned.join(
        broadcast(ids.select(col(idCol).cast("long").as("id"))),
        Seq("id"), "left_anti"), centroids)

    /** Top-k by cosine among the `nprobe` nearest cells to the query. */
    def search(queryVec: Array[Double], k: Int, nprobe: Int): DataFrame = {
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
      }
      val cells = centroids.zipWithIndex
        .sortBy { case (c, _) => -cos(queryVec, c) }
        .take(nprobe).map(_._2)
      val q = array(queryVec.map(lit).toSeq: _*)
      val qn = math.sqrt(Similarity.dotArr(queryVec, queryVec))
      assigned
        .filter(col("cell").isin(cells.toSeq: _*)) // partition pruning on the cell key
        .select(col("id"),
          when(col("vnorm") * lit(qn) === 0.0, lit(0.0))
            .otherwise(dot(col("v"), q) / (col("vnorm") * lit(qn))).as("cos"))
        .orderBy(col("cos").desc, col("id"))
        .limit(k)
    }

    /** Batch kNN JOIN: every indexed vector becomes a query and gets its
      * `k` nearest neighbors (by cosine, excluding itself) among the
      * `nprobe` cells nearest to it — the all-vectors analogue of
      * [[search]], and the op a dedup/curation pipeline actually runs.
      *
      * Shape at scale: probe-cell selection is a per-row expression over
      * the broadcast centroid literals (no shuffle); the only data
      * movement is the candidate equi-join on the cell key — each query
      * row is replicated `nprobe` times and meets only its probed cells,
      * so candidates are n·nprobe·(n/nlist) instead of the n² of a
      * brute-force self-join. The final reduction is the bounded-heap
      * top-k aggregate ([[graft.functions.TopKStructs]]): map-side
      * partial heaps, ≤ k rows per query per partition into the last
      * exchange — no window sort over the candidate set.
      *
      * Neighbor lists are ragged by design (a query sees < k candidates
      * when its probed cells are small); ranks are 1-based, cosine-
      * descending with ascending-id tiebreak, so the result is exactly
      * replayable in SQL (gate e7's oracle).
      */
    def knnJoin(k: Int, nprobe: Int): DataFrame =
      knnJoinImpl(k, nprobe, eligible = None)

    /** FILTERED kNN join — the production "vector search with a
      * metadata predicate": neighbors are drawn only from `eligible`
      * ids (a one-column `id` DataFrame, e.g. docs passing a language
      * or license filter), while every indexed vector still queries.
      *
      * The filter applies to the candidate side BEFORE the cell join
      * (a left-semi join on id — only ids shuffle), which is PRE-
      * filtering: under a selective predicate the candidate volume
      * shrinks proportionally and recall within the eligible set is
      * unchanged. Post-filtering (filter after top-k) would instead
      * return < k survivors and lose eligible neighbors ranked below
      * ineligible ones. Standard IVF caveat still applies: only the
      * query's `nprobe` nearest cells are searched, so an eligible
      * neighbor outside the probed cells is not seen — widen nprobe
      * when the predicate is very selective.
      */
    def knnJoinFiltered(k: Int, nprobe: Int, eligible: DataFrame): DataFrame =
      knnJoinImpl(k, nprobe, Some(eligible))

    /** kNN SEARCH for an EXTERNAL query table — the online-retrieval
      * shape [[knnJoin]] (where every indexed vector queries itself)
      * does not cover: requests arrive as their own (id, vector) rows
      * (a micro-batch of user queries, a fresh crawl slice to enrich)
      * and probe a FROZEN index, typically cold-loaded from
      * [[IvfIndex.load]]. Same plan skeleton as [[knnJoin]]: probe-cell
      * selection is a per-query expression over the broadcast centroid
      * literals, the only shuffle is the candidate equi-join on the
      * cell key (each query row replicated `nprobe` times), and the
      * bounded-heap top-k reduce keeps ≤ k rows per query per
      * partition on the last exchange. Because each query row's result
      * is independent of every other query row, per-batch probing is
      * batch-boundary-invariant by construction — the property gate
      * s38 pins through a real stream.
      *
      * Unlike [[knnJoin]] there is NO self-exclusion: query ids live in
      * their own id space, and a query that coincides with an indexed
      * vector legitimately finds it at cosine 1.
      *
      * @return (id, rank, nid, cos) — query id, 1-based rank
      *         (cosine-descending, ascending-nid tiebreak), neighbor id
      */
    def knnProbe(queries: DataFrame, idCol: String, vecCol: String,
        k: Int, nprobe: Int): DataFrame = {
      require(nprobe >= 1 && nprobe <= centroids.length,
        s"nprobe must be in [1, ${centroids.length}], got $nprobe")
      val q0 = queries.select(col(idCol).cast("long").as("qid"),
          col(vecCol).cast("array<double>").as("qv"))
        .withColumn("qnorm", sqrt(dot(col("qv"), col("qv"))))
      val probeStructs = centroids.zipWithIndex.map { case (c, j) =>
        val cn = math.sqrt(Similarity.dotArr(c, c))
        val d = dot(col("qv"), array(c.map(lit).toSeq: _*))
        val cs = when(col("qnorm") * lit(cn) === 0.0, lit(0.0))
          .otherwise(d / (col("qnorm") * lit(cn)))
        struct((-cs).as("ncs"), lit(j).as("cid"))
      }
      val probeCells = transform(
        slice(array_sort(array(probeStructs.toSeq: _*)), 1, nprobe),
        p => p.getField("cid"))
      val qe = q0.select(col("qid"), col("qv"), col("qnorm"),
        explode(probeCells).as("cell"))
      val index = assigned.select(col("cell"), col("id").as("nid"),
        col("v").as("nv"), col("vnorm").as("nnorm"))
      val cand = qe.join(index, Seq("cell"))
        .select(col("qid"), col("nid"),
          when(col("qnorm") * col("nnorm") === 0.0, lit(0.0))
            .otherwise(dot(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")))
            .as("cos"))
      TopK.perGroup(cand, Seq("qid"),
          Seq(col("cos"), (-col("nid")).as("gneg")), k)
        .select(col("qid").as("id"), col("rank"), (-col("gneg")).as("nid"),
          col("cos"))
    }

    private def knnJoinImpl(
        k: Int, nprobe: Int, eligible: Option[DataFrame]): DataFrame = {
      require(nprobe >= 1 && nprobe <= centroids.length,
        s"nprobe must be in [1, ${centroids.length}], got $nprobe")
      // the index is consumed twice (query side + candidate side):
      // materialize the assignment once instead of recomputing it
      val a = assigned.ckpt
      // (−cos, cid) structs sort ascending == cosine-descending, id-asc;
      // ‖v‖ comes from the index, ‖c_j‖ folds to a constant — same
      // arithmetic as the full cosine, 1/3 the expression size
      val probeStructs = centroids.zipWithIndex.map { case (c, j) =>
        val cn = math.sqrt(Similarity.dotArr(c, c))
        val d = dot(col("v"), array(c.map(lit).toSeq: _*))
        val cs = when(col("vnorm") * lit(cn) === 0.0, lit(0.0))
          .otherwise(d / (col("vnorm") * lit(cn)))
        struct((-cs).as("ncs"), lit(j).as("cid"))
      }
      val probeCells = transform(
        slice(array_sort(array(probeStructs.toSeq: _*)), 1, nprobe),
        p => p.getField("cid"))
      val queries = a.select(col("id").as("qid"), col("v").as("qv"),
        col("vnorm").as("qnorm"), explode(probeCells).as("cell"))
      val indexSide = eligible match {
        case Some(el) => a.join(
          el.select(col("id").cast("long").as("id")), Seq("id"), "left_semi")
        case None => a
      }
      val index = indexSide.select(col("cell"), col("id").as("nid"),
        col("v").as("nv"), col("vnorm").as("nnorm"))
      // each nid lives in exactly one cell, so no per-pair dedup needed
      val cand = queries.join(index, Seq("cell"))
        .filter(col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"),
          when(col("qnorm") * col("nnorm") === 0.0, lit(0.0))
            .otherwise(dot(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")))
            .as("cos"))
      TopK.perGroup(cand, Seq("qid"),
          Seq(col("cos"), (-col("nid")).as("gneg")), k)
        .select(col("qid").as("id"), col("rank"), (-col("gneg")).as("nid"),
          col("cos"))
    }

    /** Index-health maintenance: split every inverted list larger than
      * `maxList` into two. An IVF list that grows far beyond its peers
      * (data drift onto a frozen centroid panel — the failure mode
      * [[addVectors]] documents) makes every probe that touches it scan
      * disproportionately many candidates; production vector stores
      * periodically SPLIT hot lists instead of re-training the whole
      * quantizer. One rebalance round:
      *
      *   1. oversized cells = lists with > maxList members;
      *   2. per oversized cell, two DETERMINISTIC sub-seeds: A = the
      *      min-id member's vector, B = the member least similar to A
      *      (min cosine, min-id tiebreak) — the farthest-point split
      *      heuristic, seeded by data, no RNG;
      *   3. members re-assign to B only when strictly closer
      *      (cos(v,B) > cos(v,A) — float ties keep A, so the decision
      *      is engine-exact); A's group keeps the old cell id, B's
      *      group gets a fresh id (nlist + rank of the cell);
      *   4. untouched cells are NOT rewritten — the update is
      *      O(oversized rows), never O(index).
      *
      * Driver-side data is two vectors + one size per oversized cell
      * (≤ 2·nlist vectors — the same blessed-panel posture as the
      * centroid broadcast). A list of > maxList IDENTICAL vectors
      * cannot split (every member ties toward A) and stays oversized —
      * dedup upstream; callers wanting a full rebalance iterate until
      * the audit is empty or stable.
      *
      * @return (rebalanced index, audit (cell, n, new_cell) of splits)
      */
    def rebalance(maxList: Long): (IvfIndex, DataFrame) = {
      require(maxList >= 1, s"maxList must be >= 1, got $maxList")
      val a = assigned.ckpt
      val spark = a.sparkSession
      import spark.implicits._
      val over = a.groupBy("cell").agg(count(lit(1)).as("n"))
        .filter(col("n") > maxList)
        .orderBy("cell")
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      if (over.isEmpty)
        return (this, Seq.empty[(Int, Long, Int)].toDF("cell", "n", "new_cell"))
      val overCells = over.map(_._1)
      val newCellOf: Map[Int, Int] = overCells.zipWithIndex
        .map { case (c, i) => c -> (centroids.length + i) }.toMap

      val members = a.filter(col("cell").isin(overCells.toSeq: _*))
        .ckpt
      // seed A: the min-id member's vector, one row per oversized cell
      val seedA: Map[Int, Array[Double]] = members
        .join(members.groupBy("cell").agg(min("id").as("id")), Seq("cell", "id"))
        .select("cell", "v").collect()
        .map(r => r.getInt(0) ->
          r.getAs[scala.collection.Seq[Double]]("v").toArray).toMap
      // per-cell cosine to that cell's seed A: a CASE chain over the
      // bounded cell panel, each arm the same guarded dot/(norm·norm)
      // arithmetic as assignment (and the oracle's cosine replay)
      def cosTo(panel: Map[Int, Array[Double]]): Column =
        panel.foldLeft(lit(Double.NaN)) { case (acc, (cell, vec)) =>
          val cn = math.sqrt(Similarity.dotArr(vec, vec))
          val d = dot(col("v"), array(vec.map(lit).toSeq: _*))
          when(col("cell") === cell,
            when(col("vnorm") * lit(cn) === 0.0, lit(0.0))
              .otherwise(d / (col("vnorm") * lit(cn)))).otherwise(acc)
        }
      val withA = members.withColumn("cosA", cosTo(seedA))
        .ckpt
      // seed B: least-similar-to-A member, (cosA, id)-lexicographic min
      val bIds = withA.groupBy("cell")
        .agg(min(struct(col("cosA"), col("id"))).as("pick"))
        .select(col("cell"), col("pick.id").as("id"))
      val seedB: Map[Int, Array[Double]] = members
        .join(bIds, Seq("cell", "id"))
        .select("cell", "v").collect()
        .map(r => r.getInt(0) ->
          r.getAs[scala.collection.Seq[Double]]("v").toArray).toMap

      val newIdExpr = overCells.foldLeft(lit(-1)) { (acc, c) =>
        when(col("cell") === c, lit(newCellOf(c))).otherwise(acc)
      }
      val decided = withA.withColumn("cosB", cosTo(seedB))
        .select(col("id"), col("v"), col("vnorm"),
          when(col("cosB") > col("cosA"), newIdExpr)
            .otherwise(col("cell")).as("cell"))
      val reassigned = a.filter(!col("cell").isin(overCells.toSeq: _*))
        .unionAll(decided)
        .repartition(col("cell"))
      val newCents = centroids.zipWithIndex.map { case (c, j) =>
        seedA.getOrElse(j, c)
      } ++ overCells.map(seedB)
      val audit = over.map { case (c, n) => (c, n, newCellOf(c)) }
        .toSeq.toDF("cell", "n", "new_cell")
      (IvfIndex(reassigned, newCents), audit)
    }
  }

  object IvfIndex {

    /** Write one version image into the freshly claimed `dir`: the
      * cell-partitioned assignment table (a loaded probe prunes files by
      * cell id without re-shuffling the whole table first) plus a
      * (cell, centroid) panel table. The centroid half is the SIGNATURE
      * of the index — a reload that recomputed centroids (or read them
      * in a different order) would probe different cells and silently
      * lose recall, so they round-trip as data, ordered by cell id.
      * Default ErrorIfExists mode: the claim made `dir` this writer's
      * alone, so a collision fails loudly.
      *
      * This is the build-once / probe-many shape a 100 TB vector store
      * needs: the O(corpus) k-means + assignment runs in ONE job; every
      * later search/knnJoin/addVectors/remove session cold-loads the
      * tables (centroids are nlist rows — a driver panel, not data)
      * and pays only its own probe cost. */
    private def writeVersion(idx: IvfIndex, dir: String): Unit = {
      val spark = idx.assigned.sparkSession
      import spark.implicits._
      idx.assigned.write.partitionBy("cell").parquet(s"$dir/assigned")
      idx.centroids.zipWithIndex.toSeq
        .map { case (c, j) => (j, c.toSeq) }
        .toDF("cell", "centroid").write.parquet(s"$dir/centroids")
    }

    /** Publish `idx` as the next immutable committed version under
      * `path` (claim/commit marker discipline — [[Versions.publish]]) —
      * the index's only persistence verb. Returns the new version
      * number. */
    def publish(idx: IvfIndex, path: String): Int = {
      implicit val spark: SparkSession = idx.assigned.sparkSession
      Versions.publish(path, writeVersion(idx, _))
    }

    /** Load a committed version — index time travel. The assignment
      * table comes back cell-partitioned on disk (partition pruning
      * replaces the in-session `repartition(cell)`); only the nlist-row
      * centroid panel is collected driver-side. `vnorm` was computed
      * once at build time and round-trips as a stored double, so every
      * loaded cosine is bit-identical to the in-session index (spec-
      * proven, and gate e28 replays e7's oracle through the disk round
      * trip). */
    def loadVersion(path: String, version: Int)(
        implicit spark: SparkSession): IvfIndex = {
      val dir = Versions.versionDir(path, version)
      val cents: Array[Array[Double]] = spark.read.parquet(s"$dir/centroids")
        .orderBy("cell").collect()
        .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
      // column order is part of the index contract (partitionBy moved
      // `cell` last on disk); cast back: partition values read as the
      // directory-inferred type
      IvfIndex(spark.read.parquet(s"$dir/assigned").select(
        col("id").cast("long"), col("v").cast("array<double>"),
        col("vnorm").cast("double"), col("cell").cast("int")), cents)
    }

    /** Load the newest committed version. */
    def loadCurrent(path: String)(implicit spark: SparkSession): IvfIndex =
      loadVersion(path, currentVersion(path))

    def currentVersion(path: String)(implicit spark: SparkSession): Int =
      Versions.current(path)

    /** Delete all but the newest `keep` versions (the current pointer's
      * version is always among them — publishes are monotone). Returns
      * the vacuumed version numbers. Mirrors the lake side's
      * `vacuumCommits`: retention is by count, never the live slot. */
    def vacuumVersions(path: String, keep: Int)(
        implicit spark: SparkSession): Seq[Int] =
      Versions.vacuum(path, keep)
  }

  /** A persisted PQ codebook: the k seed vectors (sub-sliced per
    * subspace at encode time) plus the (m, k) geometry they were built
    * for. [[productQuantize]] re-derives this panel from the corpus on
    * every call; a real deployment trains the codebook ONCE (it defines
    * the meaning of every stored code — re-deriving it against a grown
    * corpus would silently re-key all existing codes), ships it as a
    * tiny table, and encodes each new batch against the loaded panel. */
  final case class PqCodebook(seeds: Array[Array[Double]], m: Int, k: Int) {

    /** Encode a batch against THIS codebook — identical arithmetic to
      * [[productQuantize]] (‖a‖²−2ab+‖b‖² expansion, lowest-code
      * tiebreak), but the panel is the loaded one, not re-derived. */
    def encode(df: DataFrame, idCol: String, vecCol: String): DataFrame =
      pqEncode(df, idCol, vecCol, m, k, seeds)
  }

  object PqCodebook {

    /** Train (sampling-seed) a codebook from the corpus rows with ids
      * 0..k−1 — the exact panel [[productQuantize]] uses internally,
      * reified so it can be [[publish]]ed. */
    def fit(df: DataFrame, idCol: String, vecCol: String,
        m: Int, k: Int): PqCodebook = {
      val seeds = pqSeeds(df, idCol, vecCol, k)
      require(seeds.head.length % m == 0,
        s"dim ${seeds.head.length} not divisible into $m subspaces")
      PqCodebook(seeds, m, k)
    }

    /** Write one version image into the freshly claimed `dir`: one
      * (cid, centroid) row per seed plus a one-row params table pinning
      * (m, k) — without the geometry a reload could slice subspaces
      * differently and mis-decode every stored code. Default
      * ErrorIfExists mode, as for [[IvfIndex]]. */
    private def writeVersion(cb: PqCodebook, dir: String)(
        implicit spark: SparkSession): Unit = {
      import spark.implicits._
      cb.seeds.zipWithIndex.toSeq
        .map { case (c, j) => (j, c.toSeq) }
        .toDF("cid", "centroid").write.parquet(s"$dir/seeds")
      Seq((cb.m, cb.k)).toDF("m", "k").write.parquet(s"$dir/params")
    }

    /** Publish the next immutable version under `path` — the codebook's
      * only persistence verb ([[Versions.publish]]). A retrained
      * codebook is a new version; codes encoded against an older one
      * keep decoding through [[loadVersion]]. */
    def publish(cb: PqCodebook, path: String)(
        implicit spark: SparkSession): Int =
      Versions.publish(path, writeVersion(cb, _))

    def loadVersion(path: String, version: Int)(
        implicit spark: SparkSession): PqCodebook = {
      val dir = Versions.versionDir(path, version)
      val p = spark.read.parquet(s"$dir/params").head()
      PqCodebook(
        spark.read.parquet(s"$dir/seeds").orderBy("cid").collect()
          .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray),
        m = p.getAs[Int]("m"), k = p.getAs[Int]("k"))
    }

    def loadCurrent(path: String)(implicit spark: SparkSession): PqCodebook =
      loadVersion(path, Versions.current(path))
  }

  /** Product quantization with a deterministic seeded codebook: the
    * vector is split into `m` contiguous subvectors and each is encoded
    * as the index of its nearest sub-centroid (squared L2, lowest-index
    * tiebreak). Codebook for subspace s = the subvectors of ids
    * 0..k−1 — the same sampling-seeded posture as [[ivfIndexSeeded]],
    * so the whole encode is exactly replayable in SQL (gate e8); swap
    * in per-subspace k-means when codebook quality matters more than
    * auditability. PQ codes are the 4–16× compression layer an ANN
    * index ships to keep 100 TB of vectors scannable.
    *
    * Distances use the ‖a‖² − 2·a·b + ‖b‖² expansion: ‖a‖² folds once
    * per subspace (not once per centroid), ‖b‖² is a Scala constant,
    * and the cross term is the codegen'd dot kernel — the oracle
    * mirrors the same expansion term-for-term, so doubles compare
    * exactly. Pure per-row projection: no shuffle, no driver state
    * beyond the k·m codebook literals. Emitted element-wise
    * (id, sub, code, dist) — hash-comparable across engines. */
  /** The seeded codebook panel [[productQuantize]] / [[pqAdcTopK]]
    * share: the corpus rows with ids 0..k−1, collected driver-side —
    * a bounded O(k·dim) panel, the PQ analogue of the IVF centroid
    * broadcast. */
  private def pqSeeds(df: DataFrame, idCol: String, vecCol: String,
      k: Int): Array[Array[Double]] = {
    val v = col(vecCol).cast("array<double>")
    val seeds: Array[Array[Double]] = df
      .select(col(idCol).cast("long").as("id"), v.as("v"))
      .filter(col("id") < k).orderBy("id")
      .collect().map(_.getAs[scala.collection.Seq[Double]]("v").toArray)
    require(seeds.length == k,
      s"PQ seeds codebooks from ids 0..${k - 1} but only " +
      s"${seeds.length} such row(s) exist — re-key ids densely from 0 " +
      "(row_number() - 1 over a deterministic order) or lower k")
    seeds
  }

  def productQuantize(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int): DataFrame =
    pqEncode(df, idCol, vecCol, m, k, pqSeeds(df, idCol, vecCol, k))

  /** Shared encode kernel of [[productQuantize]] (corpus-derived panel)
    * and [[PqCodebook.encode]] (loaded panel): pure per-row projection,
    * panel embedded as literals, no shuffle. */
  private def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, seeds: Array[Array[Double]]): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(seeds.length == k,
      s"codebook has ${seeds.length} seeds, expected k=$k")
    val sub = dim / m

    val cells = (0 until m).map { s =>
      val vs = slice(v, s * sub + 1, sub)
      val selfDot = dot(vs, vs)
      val scored = (0 until k).map { j =>
        val c = seeds(j).slice(s * sub, s * sub + sub)
        val cross = dot(vs, array(c.map(lit).toSeq: _*))
        val d2 = selfDot - lit(2.0) * cross + lit(Similarity.dotArr(c, c))
        struct(d2.as("dist"), lit(j).as("code"))
      }
      // array_min: smallest distance, lowest code on ties
      struct(lit(s).as("sub"), array_min(array(scored: _*)).as("best"))
    }
    df.select(col(idCol).as("id"), explode(array(cells: _*)).as("pq"))
      .select(col("id"), col("pq.sub").as("sub"),
        col("pq.best.code").as("code"), col("pq.best.dist").as("dist"))
  }

  /** PQ asymmetric-distance (ADC) top-k search — the query half of
    * [[productQuantize]]: every corpus row is represented ONLY by its m
    * sub-space codes; a query scores a doc as the sum of m lookup-table
    * entries d²(query_sub, centroid[code_sub]). At 100 TB this is the
    * point of PQ — the search scans m small ints per doc, never the
    * full vectors (16–64× less I/O), with the codebook and the per-
    * query LUT (|queries|·m·k rows) broadcast.
    *
    * Determinism: the per-(query, doc) ADC sum folds its m sub-space
    * terms in FIXED sub-space order via `aggregate` over a sorted terms
    * array (double addition is not associative — a plain SUM would
    * drift in the last ulp between engines), so the oracle replays the
    * identical left fold with `list_reduce(list(... ORDER BY s))`.
    * Ties rank the larger id first, matching [[TopK.perGroup]].
    *
    * @param queries bounded query panel with (qidCol, qvecCol)
    * @return (qid, rank, id, adc_dist) — rank 1..topK per query,
    *         smallest ADC distance first
    */
  def pqAdcTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      m: Int,
      k: Int,
      topK: Int): DataFrame =
    adcRank(df, idCol, vecCol, queries, qidCol, qvecCol, m, k, topK,
      candidates = None)

  /** IVF-PQ search (the faiss `IVFx,PQy` shape, simplified to a global
    * — non-residual — codebook): the coarse quantizer prunes the corpus
    * to each query's `nprobe` nearest cells, and ONLY those candidates
    * are scored with the PQ ADC fold of [[pqAdcTopK]] — the two index
    * structures compose multiplicatively at 100 TB: nprobe/nlist of the
    * rows are touched, and each touched row costs m small ints, not a
    * vector. Candidate generation is one equi-join on the cell key
    * (each corpus row lives in exactly one cell, so no dedup pass);
    * the self row scores ADC ≈ 0 and ranks first — callers filter it
    * if unwanted. */
  def ivfPqTopK(
      idx: IvfIndex,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      m: Int,
      k: Int,
      nprobe: Int,
      topK: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= idx.centroids.length,
      s"nprobe must be in [1, ${idx.centroids.length}], got $nprobe")
    val qv = col(qvecCol).cast("array<double>")
    // per-query probed cells: (-cos, cid) structs sort ascending ==
    // cosine-descending with lowest-cid tiebreak, same as knnJoin
    val probeStructs = idx.centroids.zipWithIndex.map { case (c, j) =>
      struct((-cosine(qv, array(c.map(lit).toSeq: _*))).as("ncs"),
        lit(j).as("cid"))
    }
    val probeCells = transform(
      slice(array_sort(array(probeStructs.toSeq: _*)), 1, nprobe),
      p => p.getField("cid"))
    val cand = queries
      .select(col(qidCol).cast("long").as("qid"), explode(probeCells).as("cell"))
      .join(idx.assigned.select(col("cell"), col("id")), Seq("cell"))
      .select("qid", "id")
    adcRank(df, idCol, vecCol, queries, qidCol, qvecCol, m, k, topK,
      candidates = Some(cand))
  }

  /** Shared ADC scoring core: codes ⋈ broadcast LUT (restricted to
    * `candidates` (qid, id) pairs when given), sorted-terms fixed-order
    * fold, bounded-heap top-k. */
  private def adcRank(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      m: Int,
      k: Int,
      topK: Int,
      candidates: Option[DataFrame]): DataFrame = {
    val qv = col(qvecCol).cast("array<double>")
    val dim = queries.select(org.apache.spark.sql.functions.size(qv)).first().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(topK > 0, s"topK must be positive, got $topK")
    val sub = dim / m
    val seeds = pqSeeds(df, idCol, vecCol, k)
    require(seeds.forall(_.length == dim),
      s"codebook/query dim mismatch: seeds are ${seeds.head.length}-d, queries $dim-d")
    // the ONLY corpus artifact the search reads: (id, sub, code)
    val codes = productQuantize(df, idCol, vecCol, m, k).select("id", "sub", "code")
    // per-query LUT, centroid sub-vectors embedded as literals
    val lutCells = (0 until m).flatMap { s =>
      val qs = slice(qv, s * sub + 1, sub)
      val selfDot = dot(qs, qs)
      (0 until k).map { j =>
        val c = seeds(j).slice(s * sub, s * sub + sub)
        val cross = dot(qs, array(c.map(lit).toSeq: _*))
        struct(lit(s).as("sub"), lit(j).as("code"),
          ((selfDot - lit(2.0) * cross) + lit(dotArr(c, c))).as("qdist"))
      }
    }
    val lut = queries
      .select(col(qidCol).cast("long").as("qid"),
        explode(array(lutCells: _*)).as("l"))
      .select(col("qid"), col("l.sub").as("sub"),
        col("l.code").as("code"), col("l.qdist").as("qdist"))
    val joined = candidates match {
      case None => codes.join(broadcast(lut), Seq("sub", "code"))
      case Some(cand) => cand.join(codes, Seq("id"))
        .join(broadcast(lut), Seq("qid", "sub", "code"))
    }
    val scored = joined
      .groupBy("qid", "id")
      .agg(sort_array(collect_list(struct(col("sub"), col("qdist")))).as("terms"))
      .select(col("qid"), col("id"),
        aggregate(col("terms"), lit(0.0),
          (acc, t) => acc + t.getField("qdist")).as("adc_dist"))
    TopK.perGroup(scored.withColumn("neg_adc", -col("adc_dist")),
        Seq("qid"), Seq(col("neg_adc"), col("id"), col("adc_dist")), topK)
      .select(col("qid"), col("rank"), col("id"), col("adc_dist"))
  }

  /** Brute-force top-k over SYMMETRIC int8-quantized vectors — the SQ8
    * scalar-quantizer search (the faiss `IndexScalarQuantizer` shape,
    * completing the quantization family beside [[pqAdcTopK]]): both
    * sides carry max-abs-scaled int8 codes — 4–8× less scan I/O than
    * doubles — and the inner product is an exact INTEGER dot over the
    * codes (order-independent under any partitioning), with the two
    * per-vector scales folded back in one fixed-order double product.
    * Quantized-search scores are therefore engine-EXACT, not
    * tolerance-banded. Same quantization formula as [[quantizeInt8]]
    * (gate e5), so codes match the stored int8 table bit-for-bit. */
  def sq8TopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int): DataFrame = {
    def enc(v0: Column) = {
      val v = v0.cast("array<double>")
      val scale = array_max(transform(v, x => abs(x)))
      struct(scale.as("scale"),
        when(scale === 0.0, transform(v, _ => lit(0)))
          .otherwise(transform(v, x => round(x / scale * lit(127.0)).cast("int")))
          .as("q"))
    }
    val c = df.select(col(idCol).cast("long").as("id"), enc(col(vecCol)).as("e"))
      .select(col("id"), col("e.scale").as("cscale"), col("e.q").as("cq"))
    val qs = queries
      .select(col(qidCol).cast("long").as("qid"), enc(col(qvecCol)).as("e"))
      .select(col("qid"), col("e.scale").as("qscale"), col("e.q").as("qq"))
    val scored = c.crossJoin(broadcast(qs))
      .select(col("qid"), col("id"),
        (((col("cscale") * col("qscale")) *
          aggregate(zip_with(col("cq"), col("qq"),
            (a, b) => (a * b).cast("bigint")), lit(0L), _ + _).cast("double")) /
          lit(16129.0)).as("score")) // 127²: undo both quant scales
    TopK.perGroup(scored, Seq("qid"), Seq(col("score"), col("id")), k)
      .select(col("qid"), col("rank"), col("id"), col("score"))
  }

  /** Symmetric max-abs int8 quantization of an embedding column — the
    * 4× storage/bandwidth reducer ANN indexes ship with. Each vector is
    * scaled by its own max|component| and rounded to [-127, 127]; the
    * per-vector scale is kept for dequantization. Emitted element-wise
    * (id, pos, qv, scale) so the result is hash-comparable across
    * engines (array cells are not). Pure per-row arithmetic — no
    * shuffle; round-half-away-from-zero in both engines. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.select(col(idCol).as("id"), v.as("v"),
        array_max(transform(v, x => abs(x))).as("scale"))
      .select(col("id"), col("scale"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("id"), col("pos"),
        when(col("scale") === 0.0, lit(0))
          .otherwise(round(col("x") / col("scale") * 127.0).cast("int")).as("qv"),
        col("scale"))
  }

  /** Deterministic md5-derived hyperplane components, uniform in [-1, 1)
    * — exposed so the DuckDB oracle can embed the identical values as
    * literals. */
  def planes(bits: Int, dim: Int): Seq[Seq[Double]] =
    (0 until bits).map { p =>
      (0 until dim).map { d =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"graft-plane-$p-$d".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 8)
        java.lang.Long.parseLong(hex, 16).toDouble / math.pow(2, 31) - 1.0
      }
    }

  /** Random-hyperplane LSH bucketing for cosine: `bits` signed
    * projections form a bucket key; near vectors collide with high
    * probability. Deterministic hyperplanes derived from md5 of
    * (plane, dim) — engine-portable like everything else here. */
  def hyperplaneBuckets(df: DataFrame, idCol: String, vecCol: String,
      bits: Int, dim: Int): DataFrame = {
    val planesSeq = planes(bits, dim)
    val v = col(vecCol).cast("array<double>")
    val bucketBits = planesSeq.zipWithIndex.map { case (plane, i) =>
      val planeCol = array(plane.map(lit): _*)
      when(dot(v, planeCol) >= 0.0, lit(1L << i)).otherwise(lit(0L))
    }
    df.select(col(idCol).as("id"), v.as("v"),
      bucketBits.reduce(_.bitwiseOR(_)).as("bucket"))
  }

  /** Distributed Lloyd's k-means in FIXED-POINT integer arithmetic —
    * the same determinism discipline as [[graft.ops.Graph.pageRank]]:
    * float k-means sums partial centroid contributions in
    * nondeterministic order, so two runs (or two engines) drift in the
    * last ulp and cascade into different assignments; this variant
    * floors every component to an integer micro-unit
    * (`floor(x · 10^6)`, exact in IEEE double for |x| < 2^32), keeps
    * distances as exactly-representable integer-valued doubles (every
    * partial sum < 2^53, so even fold ORDER is irrelevant — addition of
    * exact integers is associative), and updates centroids by integer
    * floor-division mean. Bit-identical on any partitioning and
    * replayable in ANSI SQL (gate e9's unrolled-CTE oracle).
    *
    * Cluster seeds are the vectors with ids 0..k-1 (deterministic, no
    * k-means++ randomness). A cluster that loses all members vanishes
    * (mirrored by the oracle); with real data and small k this does not
    * arise.
    *
    * Scale shape per iteration: assignment is a broadcast cross join
    * against the k-row centroid table (the distance argmin runs inside
    * the codegen'd [[graft.functions.ArrayDotProduct]] kernel via
    * ‖v−c‖² = v·v − 2v·c + c·c); the update exploes members to
    * (cluster, dim) cells and reduces with map-side partial aggregation
    * — one shuffle of d·n small longs, the irreducible cost of Lloyd.
    * No driver-side state: centroids stay a DataFrame end to end,
    * lineage truncated per iteration by the [[Ckpt]] barrier.
    *
    * @return (cid, dim, c, n_members): flattened final centroids with
    *         their member counts
    */
  def kmeansFixedPoint(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int,
      scale: Double = 1e6): DataFrame = {
    require(k > 0 && iterations >= 0, s"need k > 0, iterations >= 0")
    val vecs = scaledVecs(df, idCol, vecCol, scale)
    val selfDot = dot(col("v"), col("v"))
    // the FINAL table is consumed twice (size assignment + output join):
    // one Ckpt barrier stops the last m-step from running double
    val centroids = kmeansCentroidTable(vecs, selfDot, k, iterations)
      .ckpt
    val sizes = assign(vecs, selfDot, centroids)
      .groupBy("cid").agg(count(lit(1)).as("n_members"))
    centroids.join(sizes, Seq("cid"))
      .select(col("cid"), posexplode(col("c")).as(Seq("dim", "c")),
        col("n_members"))
      .select(col("cid"), col("dim"), col("c").cast("long").as("c"),
        col("n_members"))
  }

  /** Cluster-balanced diversity sampling: fixed-point k-means cells +
    * the deterministic per-group sample — the "take N per semantic
    * cluster" pass a training-data pipeline uses to flatten topical
    * skew (a crawl corpus is mostly its biggest clusters; uniform
    * sampling just reproduces the skew).
    *
    * Composition of two existing exact kernels, so the whole thing is
    * engine-portable: assignments come from [[kmeansFixedPoint]]'s
    * integer Lloyd loop (bit-identical under any partitioning), the
    * per-cell pick is [[CorpusOps.groupSample]]'s salted-hash
    * row_number (stable under corpus growth only within a cell's
    * unchanged membership — this is a per-build sample, not a
    * [[CorpusOps.deterministicSplit]] contract). One broadcast
    * assignment pass + one window shuffle on cid beyond the k-means
    * loop itself.
    *
    * @return (cid, id) — `perCell` ids per non-empty cell
    */
  def clusterBalancedSample(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int,
      perCell: Int,
      scale: Double = 1e6,
      salt: String = "graft-sample"): DataFrame = {
    require(k > 0 && iterations >= 0 && perCell > 0,
      s"need k > 0, iterations >= 0, perCell > 0")
    val vecs = scaledVecs(df, idCol, vecCol, scale)
    val selfDot = dot(col("v"), col("v"))
    val centroids = kmeansCentroidTable(vecs, selfDot, k, iterations)
    val assigned = assign(vecs, selfDot, centroids)
    CorpusOps.groupSample(assigned, "id", "cid", perCell, salt)
      .select(col("cid"), col("id"))
  }

  /** (id, v) with components floor-scaled to exactly-representable
    * integer-valued doubles, checkpointed: read every Lloyd round. */
  private def scaledVecs(df: DataFrame, idCol: String, vecCol: String,
      scale: Double): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        // Spark's floor yields bigint; back to double for the dot kernel
        // (values stay exact integers well under 2^53)
        transform(col(vecCol).cast("array<double>"),
          x => floor(x * scale).cast("double")).as("v"))
      .ckpt

  /** The Lloyd loop: `iterations` rounds of assign + trunc-division
    * mean from the ids-0..k-1 seeds. Returned table is NOT
    * checkpointed — single-consumer callers keep the one-query plan. */
  private def kmeansCentroidTable(vecs: DataFrame, selfDot: Column,
      k: Int, iterations: Int): DataFrame = {
    var centroids = vecs.filter(col("id") < k)
      .select(col("id").as("cid"), col("v").as("c"))
    // seeding takes the rows with ids 0..k-1 — validate the density
    // assumption instead of silently clustering with fewer than k cells
    // (one count on a k-row table; the checkpointed vecs are reused by
    // every iteration below)
    val seeded = centroids.count()
    require(seeded == k,
      s"k-means seeds centroids from ids 0..${k - 1} but only " +
      s"$seeded such row(s) exist — re-key ids densely from 0 or lower k")
    for (_ <- 1 to iterations) {
      // NO checkpoint here: each centroid table is consumed exactly once,
      // inside the next round's broadcast exchange, so the whole
      // iteration chain plans as ONE query with nested broadcasts — each
      // m-step executes once, and dropping the per-iteration
      // materialization job roughly halves the wall clock
      val assigned = assign(vecs, selfDot, centroids)
      centroids = assigned
        .join(vecs, Seq("id"))
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cid", "dim")
        .agg(expr("sum(cast(x as bigint)) div count(1)").as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m").cast("double")).as("c"))
    }
    centroids
  }

  /** One assignment pass: nearest centroid per vector, ties to the
    * lowest cluster id. min_by over the total-order (dist, cid) key —
    * the key's cid tiebreak makes the pick deterministic, and unlike
    * min(struct(...)) (which plans as a SortAggregate) min_by
    * hash-aggregates. */
  private def assign(vecs: DataFrame, selfDot: Column,
      centroids: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(centroids))
      .select(col("id"), col("cid"),
        (selfDot - lit(2.0) * dot(col("v"), col("c")) + dot(col("c"), col("c")))
          .as("dist"))
      .groupBy("id")
      .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("cid"))

  /** Grid-density clustering over a LOW-dimensional numeric projection
    * (two features: a 2-D UMAP/PCA output, a (quality, length) plane…)
    * — the CLIQUE/GriDBSCAN family: density peaks become clusters,
    * sparse cells become noise, no k chosen up front.
    *
    *   1. each point lands in cell `(⌊x·scale/w⌋, ⌊y·scale/w⌋)`;
    *   2. cells with ≥ `minPts` points are DENSE;
    *   3. dense cells that touch (8-neighborhood) merge into one
    *      cluster via connected components over the ≤ #dense-cells
    *      adjacency graph — a PLANNER-scale graph, not a data-scale
    *      one (the CC rounds never see point rows);
    *   4. points in dense cells take their cell's component label
    *      (= min member cell id); everything else is noise (−1).
    *
    * Exactness: the cell coordinate is one double multiply + divide +
    * floor in a fixed order, bit-identical across engines, so the gate
    * hash-matches a full SQL replay (recursive-CTE closure for the
    * merge). Physical shape: one (cx, cy) count aggregate over the
    * points, the tiny dense-cell CC, and one (cx, cy) equi-join back —
    * no point-vs-point pair ever forms, unlike true DBSCAN's
    * eps-neighbor join. Grid approximation caveat: border points in a
    * sparse cell adjacent to a dense one are noise here, where eps-ball
    * DBSCAN might attach them.
    *
    * Cell ids pack as `cx·span + cy`: caller guarantees |cell coords| <
    * span/2 (a projection bounded to ±B needs span > 2·B·scale/w).
    *
    * @return (id, cluster) — cluster in 0..k−1 (dense-ranked component
    *         labels), −1 for noise; labels can never collide with the
    *         sentinel
    */
  def gridDensityClusters(
      df: DataFrame,
      idCol: String,
      xCol: Column,
      yCol: Column,
      scale: Double,
      cellWidth: Double,
      minPts: Long,
      span: Long = 1000000L): DataFrame = {
    require(minPts >= 1 && scale > 0 && cellWidth > 0,
      s"need minPts >= 1, scale > 0, cellWidth > 0")
    val pts = df.select(col(idCol).cast("long").as("id"),
        floor(xCol.cast("double") * lit(scale) / lit(cellWidth)).as("cx"),
        floor(yCol.cast("double") * lit(scale) / lit(cellWidth)).as("cy"))
      .ckpt // counts + the assignment join-back
    val dense = pts.groupBy("cx", "cy").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minPts)
      .withColumn("cell", col("cx") * lit(span) + col("cy"))
      .ckpt // edges probe it twice
    // 8-neighborhood (plus self — keeps isolated dense cells) among
    // dense cells only: ≤ 9·#dense rows, semi-joined back to dense
    val offsets = for { dx <- -1 to 1; dy <- -1 to 1 }
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))
    val edges = dense
      .select(col("cx"), col("cy"), col("cell"),
        explode(array(offsets: _*)).as("o"))
      .select(col("cell").as("a"),
        ((col("cx") + col("o.dx")) * lit(span) + col("cy") + col("o.dy"))
          .as("b"))
      .join(dense.select(col("cell").as("b")), Seq("b"), "left_semi")
    // raw component reps are MIN PACKED CELL IDS, which go negative for
    // negative coordinates — a component whose min cell is (0, −1) packs
    // to exactly −1 and would collide with the noise sentinel. Remap to
    // dense ranks 0..k−1 (a single-partition window over the PLANNER-
    // scale component table: ≤ #dense cells rows) so labels and the −1
    // sentinel can never meet.
    val comp = Dedup.connectedComponents(edges, "a", "b")
      .select(col("node").as("cell"), col("cluster_rep"))
      .withColumn("cluster",
        dense_rank().over(org.apache.spark.sql.expressions.Window
          .orderBy("cluster_rep")).cast("long") - 1L)
      .drop("cluster_rep")
    pts
      .join(dense.select("cx", "cy", "cell"), Seq("cx", "cy"), "left")
      .join(comp, Seq("cell"), "left")
      .select(col("id"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"))
  }
}
