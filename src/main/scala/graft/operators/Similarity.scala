package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => V}

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * [[bruteTopK]] is the exact baseline: broadcast the (small) query
  * set against the candidate table — a map-only pass over candidates
  * (no shuffle of the big side) followed by a per-query top-k window.
  *
  * [[bucketedTopK]] is the scale path: random-hyperplane LSH assigns
  * every vector a bucket; the search joins on bucket equality, so cost
  * is (bucket size × queries-in-bucket), not n·q. Recall is tunable
  * via plane count (fewer planes → bigger buckets → higher recall).
  * A production IVF variant would k-means the space instead; the
  * hyperplane form is deterministic and dependency-free.
  */
object Similarity {

  /** Deterministic pseudo-random hyperplanes, derived from md5 so the
    * DuckDB oracle reproduces them exactly: component (h, j) is
    * `((md5_int("h:j") mod 2001) − 1000) / 1000 ∈ [−1, 1]`.
    */
  def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map { h =>
      (1 to dim).map { j =>
        val hex = MessageDigest.getInstance("MD5")
          .digest(s"$h:$j".getBytes(StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString.substring(0, 15)
        ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000.0
      }
    }

  /** LSH bucket id: bit h = (v · plane_h ≥ 0), all planes in one
    * fused kernel call ([[graft.expressions.HyperplaneSignBits]]).
    * The former `when(dot(v, typedLit(p)) >= 0, …)` chain inlined
    * nPlanes × dim literals into the stage and pushed it past the
    * JIT's bytecode ceiling at 30 × 64 — the whole stage ran
    * interpreted (sf100 probe: 235 s for a 2M-row scan worth
    * seconds). Bit-identical per-plane left-fold double math.
    */
  def hyperplaneBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    graft.expressions.HyperplaneSignBits(vec, planes)

  private def ranked(pairs: DataFrame, k: Int): DataFrame =
    pairs.withColumn("__rk", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("score"), col("neighbor_id"))))
      .where(col("__rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"))

  /** Exact top-k cosine neighbors for each query vector. `queries`
    * must be broadcast-sized (it is hinted); candidates stream
    * map-side. Ties broken by neighbor id — fully deterministic.
    */
  def bruteTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // vectors stay float arrays end-to-end: VectorDotProduct widens
    // per element, so no doubled copy of the embedding column is made
    def prep(df: DataFrame, id: String, v: String, n: String) =
      df.select(col(idCol).as(id), col(vecCol).as(v))
        .withColumn(n, V.normSq(col(v)))
    val q = prep(queries, "query_id", "__qv", "__qn")
    val c = prep(candidates, "neighbor_id", "__cv", "__cn")
    val pairs = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", V.cosinePrenormed(
        V.dot(col("__qv"), col("__cv")), col("__qn"), col("__cn")))
    ranked(pairs, k)
  }

  /** IVF (inverted-file) ANN: a coarse quantizer splits the space into
    * `nlist` cells, every candidate is assigned to its single nearest
    * cell, and each query searches only its `nprobe` nearest cells —
    * the classic recall/cost dial (nprobe → nlist recovers exact
    * search within quantizer error).
    *
    * The coarse quantizer is deterministic and dependency-free:
    * exemplar centroids are the embeddings of the `nlist` lowest-id
    * candidate rows (a production deployment would train k-means; the
    * assignment/probe dataflow — the part that must scale — is
    * identical and the exemplar form is DuckDB-reproducible for the
    * oracle). Centroids are collected to the driver (nlist·dim doubles
    * — broadcast-sized by definition) and inlined as literals, so cell
    * assignment is a map-only fold: no shuffle, no UDF, and the
    * search join is an equi-join on the cell id.
    */
  /** Deterministic exemplar centroids: embeddings of the `nlist`
    * lowest-id rows. The quantizer the oracle-checked query uses
    * (DuckDB-reproducible).
    */
  def exemplarCentroids(candidates: DataFrame, idCol: String, vecCol: String,
      nlist: Int): Seq[Seq[Double]] =
    candidates.orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue()).toSeq).toSeq

  /** Cells ranked by cosine-to-centroid: ascending (ns = −cos, cell)
    * ≡ cosine DESC, cell ASC. One compact kernel
    * ([[graft.expressions.RankedCentroidCells]]) instead of
    * `sort_array(array(struct…))` over nlist literal vectors — the
    * literal form inflates the fused whole-stage method past the JIT's
    * bytecode ceiling and the whole stage drops to the bytecode
    * interpreter (~270 µs/row measured at nlist=8, dim=64).
    */
  private def rankedCellArray(v: Column, nsq: Column,
      cents: Seq[Seq[Double]]): Column =
    graft.expressions.RankedCentroidCells.ranked(v, nsq, cents)

  def ivfTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, nlist: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist, s"nprobe must be in [1,$nlist], got $nprobe")
    val cents = exemplarCentroids(candidates, idCol, vecCol, nlist)
    // rankedCellArray's -cos/cell struct sort matches the oracle's
    // `ORDER BY cs DESC, cell` window exactly (left-fold double math)
    def rankedCells(v: Column, nsq: Column): Column =
      rankedCellArray(v, nsq, cents)

    def prep(df: DataFrame, id: String, v: String, n: String) =
      df.select(col(idCol).as(id), col(vecCol).as(v))
        .withColumn(n, V.normSq(col(v)))
    val c = prep(candidates, "neighbor_id", "__cv", "__cn")
      .withColumn("__cell", element_at(rankedCells(col("__cv"), col("__cn")), 1)("cell"))
    val q = prep(queries, "query_id", "__qv", "__qn")
      .withColumn("__probe", explode(slice(rankedCells(col("__qv"), col("__qn")), 1, nprobe)))
      .withColumn("__cell", col("__probe")("cell"))
    // candidates carry ONE cell each, so probing several cells can't
    // produce duplicate pairs; the join stays a hash equi-join
    val pairs = c.as("c").join(broadcast(q.as("q")),
        col("c.__cell") === col("q.__cell") &&
          col("query_id") =!= col("neighbor_id"))
      .withColumn("score", V.cosinePrenormed(
        V.dot(col("__qv"), col("__cv")), col("__qn"), col("__cn")))
    ranked(pairs, k)
  }

  /** ANN top-k restricted to hyperplane-LSH bucket mates. Same output
    * shape as [[bruteTopK]]; neighbors outside the query's bucket are
    * (by design) not considered.
    */
  def bucketedTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, nPlanes: Int, dim: Int): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    def prep(df: DataFrame, id: String, v: String, n: String) =
      df.select(col(idCol).as(id), col(vecCol).as(v))
        .withColumn(n, V.normSq(col(v)))
        .withColumn("__bucket", hyperplaneBucket(col(v), planes))
    val q = prep(queries, "query_id", "__qv", "__qn")
    val c = prep(candidates, "neighbor_id", "__cv", "__cn")
    // equi-join on bucket (plus self-exclusion) — Catalyst plans a
    // hash join on __bucket, not a cross product:
    val joined = c.as("c").join(broadcast(q.as("q")),
        col("c.__bucket") === col("q.__bucket") &&
          col("query_id") =!= col("neighbor_id"))
      .withColumn("score", V.cosinePrenormed(
        V.dot(col("__qv"), col("__cv")), col("__qn"), col("__cn")))
    ranked(joined, k)
  }

  /** Exemplar PQ codebooks: subspace `sub`'s code `c` is slice `sub`
    * of the c-th lowest-id candidate vector — the same deterministic,
    * DuckDB-reproducible quantizer family as [[exemplarCentroids]]
    * (production would k-means each subspace; the encode/scan
    * dataflow, the part that must scale, is identical).
    * Returns books(sub)(code): a dsub = dim/m element centroid.
    */
  def pqCodebooks(candidates: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int): Seq[Seq[Seq[Double]]] = {
    val ex = exemplarCentroids(candidates, idCol, vecCol, ksub)
    require(ex.nonEmpty, "PQ needs at least one exemplar row")
    val dim = ex.head.size
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    val dsub = dim / m
    (0 until m).map(sub => ex.map(_.slice(sub * dsub, (sub + 1) * dsub)))
  }

  /** PQ-encode the candidate side: (neighbor_id, codes, recon_nsq).
    * `codes` is the m-code quantization (the form a 100 TB deployment
    * STORES — m bytes/vector at ksub ≤ 256 instead of 4·dim, a 32×
    * smaller scan at dim 64 / m 8); `recon_nsq` is the reconstruction
    * norm², precomputed once so scoring needs no lookups beyond ADC.
    * Map-only: both kernels carry the codebooks as reference objects.
    */
  def pqEncode(candidates: DataFrame, idCol: String, vecCol: String,
      books: Seq[Seq[Seq[Double]]]): DataFrame =
    candidates.select(col(idCol).as("neighbor_id"),
        graft.expressions.PqEncode(col(vecCol), books).as("codes"))
      .withColumn("recon_nsq",
        graft.expressions.PqReconNormSq(col("codes"), books))

  /** IVFPQ / IVFADC ANN (Jégou et al., TPAMI 2011 §IV): the coarse
    * quantizer routes each candidate to its nearest of `nlist` cells;
    * PQ then encodes the RESIDUAL v − centroid(cell) — where the
    * within-cell structure lives. This matters on clustered corpora:
    * PQ on raw vectors spends its code entropy re-encoding the cluster
    * identity and quantizes within-cluster variance to nothing (the
    * 2M-vector probe measured trained raw-vector books DEGRADING
    * shortlist recall 0.32 → 0.02 exactly this way), while residual
    * books see the centered data. Queries search their `nprobe`
    * nearest cells only, scored by ADC against the reconstruction
    * centroid + pq_recon(residual):
    *
    *   num   = q·c_cell + q·pqrecon          (two folds, summed)
    *   ‖r‖²  = ‖c_cell‖² + 2·c_cell·pqrecon + ‖pqrecon‖²
    *
    * — every term an existing PQ kernel call, so the candidate side
    * still stores only (cell, m codes, one double).
    *
    * Both quantizers are the deterministic exemplar ones (the coarse
    * cells of [[exemplarCentroids]], the residual books of
    * [[pqCodebooks]]), so the result is DuckDB-reproducible.
    */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, nlist: Int = 8, nprobe: Int = 2,
      m: Int = 8, ksub: Int = 8): DataFrame = {
    val cents = exemplarCentroids(candidates, idCol, vecCol, nlist)
    require(nprobe >= 1 && nprobe <= cents.size,
      s"nprobe must be in [1,${cents.size}], got $nprobe")
    val ss = candidates.sparkSession
    import ss.implicits._
    val centsDf = cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("__cell", "__cv")
    def assignResidual(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id), col(vecCol).as("__v"))
        .withColumn("__nsq", V.normSq(col("__v")))
        .withColumn("__cell", element_at(
          graft.expressions.RankedCentroidCells.ranked(
            col("__v"), col("__nsq"), cents), 1)("cell"))
        .join(broadcast(centsDf), Seq("__cell"))
        .withColumn("__rv",
          zip_with(V.asDouble(col("__v")), col("__cv"), (x, c) => x - c))
    val cand = assignResidual(candidates, "neighbor_id")
    val books = pqCodebooks(cand.select(col("neighbor_id"), col("__rv")),
      "neighbor_id", "__rv", m, ksub)
    import graft.expressions.{PqAdcDot, PqEncode, PqReconNormSq}
    // what a deployment stores: id, cell, m codes, recon norm²
    val enc = cand
      .withColumn("__codes", PqEncode(col("__rv"), books))
      .select(col("neighbor_id"), col("__cell"), col("__codes"),
        (V.normSq(col("__cv")) +
          lit(2.0) * PqAdcDot(col("__cv"), col("__codes"), books) +
          PqReconNormSq(col("__codes"), books)).as("__rnsq"))
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qn", V.normSq(col("__qv")))
      .withColumn("__probe", explode(slice(
        graft.expressions.RankedCentroidCells.ranked(
          col("__qv"), col("__qn"), cents), 1, nprobe)))
      .withColumn("__cell", col("__probe")("cell"))
      .drop("__probe")
    val pairs = enc.join(broadcast(q), Seq("__cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(centsDf), Seq("__cell"))
      .withColumn("score", V.cosinePrenormed(
        V.dot(V.asDouble(col("__qv")), col("__cv")) +
          PqAdcDot(col("__qv"), col("__codes"), books),
        col("__qn"), col("__rnsq")))
    ranked(pairs, k)
  }

  /** Shortlist-rerank ANN — the deployment shape the PQ probes
    * motivate (`f9f40ed:src/main/scala/graft/tools/PqProbe.scala`:
    * raw ADC ranks cannot separate top-10 of a tight cluster, but an
    * R = 100·k ADC shortlist recalls it):
    * the compressed ADC scan produces `shortK` candidates per query,
    * and the EXACT cosine re-scores only those — so full-precision
    * math touches shortK·queries rows instead of the corpus, while
    * the corpus-sized pass stays the m-byte code scan.
    *
    * Scale shape: [[pqTopK]]'s map-only code scan + per-query top-R,
    * then the (queries × shortK)-row shortlist joined back to the
    * candidate table by an equi-join on the id (shortlist broadcast —
    * it is output-sized); exact rescoring is a map over that join.
    * Exactness: the re-score is bit-identical to [[bruteTopK]]'s
    * fold, so ranks among the shortlist equal brute's.
    */
  def pqRerankTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, shortK: Int,
      m: Int = 8, ksub: Int = 8): DataFrame = {
    require(shortK >= k, s"shortK=$shortK must be >= k=$k")
    rerankExact(
      pqTopK(queries, candidates, idCol, vecCol, shortK, m, ksub),
      queries, candidates, idCol, vecCol, k)
  }

  /** Exact re-rank of ANY shortlist: takes a `(query_id, neighbor_id,
    * …)` frame from an approximate stage ([[pqTopK]], [[ivfPqTopK]],
    * [[bucketedTopK]] — anything with those two columns), joins the
    * true vectors back and ranks by exact cosine. The shortlist is
    * output-sized (queries × R rows), so it broadcasts and the
    * candidate-table join is a map-side hash probe — the corpus is
    * touched once, by the id equi-join, never rescanned per query.
    */
  def rerankExact(shortlist: DataFrame, queries: DataFrame,
      candidates: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val short = shortlist.select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qn", V.normSq(col("__qv")))
    val c = candidates.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__cv"))
      .withColumn("__cn", V.normSq(col("__cv")))
    val pairs = c.join(broadcast(short.join(q, Seq("query_id"))),
        Seq("neighbor_id"))
      .withColumn("score", V.cosinePrenormed(
        V.dot(col("__qv"), col("__cv")), col("__qn"), col("__cn")))
    ranked(pairs, k)
  }

  /** Product-quantization ANN (Jégou et al., TPAMI 2011): candidates
    * are scanned as m-byte codes, scored by asymmetric distance
    * computation — the exact query against each candidate's
    * RECONSTRUCTION: score = (q · recon) / (‖q‖·‖recon‖). Approximate
    * by construction (quantization error moves scores, so ranks can
    * differ from brute force); the compression is the point — this is
    * the memory-bounded leg of the brute/LSH/IVF family, and composes
    * with IVF cells for the classic IVFPQ layout.
    */
  def pqTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int = 8, ksub: Int = 8): DataFrame = {
    val books = pqCodebooks(candidates, idCol, vecCol, m, ksub)
    val enc = pqEncode(candidates, idCol, vecCol, books)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qn", V.normSq(col("__qv")))
    val pairs = enc.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", V.cosinePrenormed(
        graft.expressions.PqAdcDot(col("__qv"), col("codes"), books),
        col("__qn"), col("recon_nsq")))
    ranked(pairs, k)
  }
}
