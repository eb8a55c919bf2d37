package graft.ops

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import graft.functions.GraftFunctions

/** Embedding similarity operators (SURVEY.md §2.2 rows 41-43).
  *
  * Dot products run as `zip_with` + `aggregate` higher-order
  * expressions over the embedding arrays — sequential double
  * accumulation, codegen'd, identical bit-for-bit to the DuckDB
  * oracle's list_transform/list_sum evaluation.
  *
  * Scale design: the brute-force path broadcasts only the (small)
  * query set and streams the corpus — one scan, no shuffle. The LSH
  * path buckets by random-hyperplane sign bits so candidate
  * generation shuffles on bucket ids; hyperplanes are a deterministic
  * integer pattern so any engine (and the oracle) derives the same
  * buckets without sharing state.
  */
object Similarity {

  /** Embedding dimensionality of the testdata corpus. */
  val Dim = 64
  /** Number of hyperplane sign bits for the single-table ANN probe
    * (2^8 = 256 buckets). */
  val Planes = 8

  /** Near-dup banding: DupBands independent tables of DupBandBits
    * hyperplane sign bits each (AND within a band, OR across bands —
    * the minhash-banding shape applied to hyperplane LSH). A single
    * table's in-bucket self-join is O(Σ|bucket|²) ≈ n²/2^bits —
    * quadratic at scale (VERDICT r1); banding keeps per-bucket sizes
    * bounded while multiple independent tables recover recall. The
    * test corpus verifies at τ=0.3 with 6-bit bands (the synthetic
    * embeddings plant no true near-dups, so a production τ≥0.9 would
    * make the oracle check vacuous); at 100 TB raise DupBandBits to
    * 16-20 and DupBands to 8+ for τ≥0.9 — same plan shape, the
    * narrow (vec_id, band, bucket) shuffle scales linearly. */
  val DupBands = 4
  val DupBandBits = 6

  /** Deterministic "random" hyperplane: component d of plane j is
    * ((d*31 + j*17) % 7) - 3 — integer arithmetic reproducible in any
    * engine. Passed as a typed double-array literal, so the codegen'd
    * graft_dot expression (graft.functions.ArrayDotProduct) computes
    * the projection in a primitive loop and no SQL text is parsed. */
  private def planeDot(j: Int): Column = {
    val plane = (1 to Dim).map(d => ((d * 31 + j * 17) % 7 - 3).toDouble).toArray
    F.call_function("graft_dot", F.col("embedding"), F.typedLit(plane))
  }

  /** Sign bits of planes `first until first + bits` as one int bucket
    * (bit j set when the projection on plane first + j is >= 0). */
  private def signBucket(first: Int, bits: Int): Column =
    (0 until bits).map { j =>
      F.when(planeDot(first + j) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    }.reduce(_ + _).cast("int")

  private val norm2Expr = "graft_dot(embedding, embedding)"

  /** vec_id, embedding, LSH bucket (Planes sign bits), squared norm. */
  def withBucketAndNorm(emb: DataFrame): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    emb.select(F.col("vec_id"), F.col("embedding"),
      signBucket(0, Planes).as("bucket"), F.expr(norm2Expr).as("norm2"))
  }

  private val pairCos = "graft_dot(ea, eb) / (sqrt(na) * sqrt(nb))"

  /** vec_id + one bucket column per band: band t's bucket is the
    * DupBandBits sign bits of planes [t*DupBandBits, (t+1)*DupBandBits). */
  def withBandBuckets(emb: DataFrame): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    emb.select(Seq(F.col("vec_id"), F.col("embedding"), F.expr(norm2Expr).as("norm2")) ++
      (0 until DupBands).map(t =>
        signBucket(t * DupBandBits, DupBandBits).as(s"bucket_$t")): _*)
  }

  /** Near-duplicate pairs by embedding cosine within any band's LSH
    * bucket (SURVEY row 41). Candidate generation shuffles only the
    * narrow (vec_id, band, bucket) table — never embeddings, never
    * all-pairs — then the deduped candidate pairs fetch vectors via
    * two equi-joins for exact cosine verification. */
  def embeddingDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val e = withBandBuckets(emb)
    val buckets = (0 until DupBands).map(t => s"bucket_$t").mkString(", ")
    val narrow = e.selectExpr("vec_id",
      s"posexplode(array($buckets)) as (band, bucket)")
    val cands = narrow.alias("a")
      .join(narrow.alias("b"),
        F.col("a.band") === F.col("b.band") &&
        F.col("a.bucket") === F.col("b.bucket") &&
        F.col("a.vec_id") < F.col("b.vec_id"))
      .select(F.col("a.vec_id").as("id_a"), F.col("b.vec_id").as("id_b"))
      .distinct()
    cands
      .join(e.select(F.col("vec_id"), F.col("embedding").as("ea"),
                     F.col("norm2").as("na")),
            F.col("id_a") === F.col("vec_id")).drop("vec_id")
      .join(e.select(F.col("vec_id"), F.col("embedding").as("eb"),
                     F.col("norm2").as("nb")),
            F.col("id_b") === F.col("vec_id")).drop("vec_id")
      .selectExpr("id_a", "id_b", s"$pairCos as cos")
      .filter(F.col("cos") >= threshold)
      .selectExpr("id_a", "id_b", "round(cos, 4) as cos_sim")
  }

  /** Brute-force cosine top-k: broadcast the query set, scan the
    * corpus once, rank per query. The scale baseline for ANN. */
  def bruteForceTopK(emb: DataFrame, queryPred: String, k: Int): DataFrame = {
    val e = withBucketAndNorm(emb)
    val q = F.broadcast(
      e.filter(queryPred)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("ea"),
                F.col("norm2").as("na")))
    val scored = q.join(
        e.select(F.col("vec_id").as("neighbor_id"), F.col("embedding").as("eb"),
                 F.col("norm2").as("nb")),
        F.col("query_id") =!= F.col("neighbor_id"))
      .selectExpr("query_id", "neighbor_id", s"round($pairCos, 6) as sim")
    scored
      .withColumn("rnk", F.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(F.col("sim").desc, F.col("neighbor_id"))).cast("long"))
      .filter(F.col("rnk") <= k)
      .select("query_id", "neighbor_id", "sim", "rnk")
  }

  /** Trains a coarse quantizer (k-means over the embedding column)
    * and returns the corpus with a `cell` assignment — the real IVF
    * build step. Training samples/iterates via spark.ml (distributed
    * Lloyd's); assignment is a transform over the full corpus. Fixed
    * seed for reproducibility. Feed the result to [[ivfTopKFrom]].
    * (The oracle-checked q_ann_ivf uses the precomputed `label`
    * column instead, because a float-accumulation-order-sensitive
    * trainer can't be replayed bit-identically in another engine —
    * the probe/rerank plan below is identical either way.) */
  def ivfBuild(emb: DataFrame, cells: Int = 16, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feat = emb.withColumn("__vec",
      array_to_vector(F.col("embedding").cast("array<double>")))
    val model = new KMeans().setK(cells).setSeed(seed)
      .setFeaturesCol("__vec").setPredictionCol("cell")
      .fit(feat)
    model.transform(feat).drop("__vec")
  }

  /** Persisted-quantizer IVF assignment (r11, SURVEY §2.2 row 123):
    * the train-once / assign-forever half of IVF that [[ivfBuild]]'s
    * inline trainer cannot express. The quantizer is an EXPLICIT
    * centroid table `(cell, q array<bigint>)` on the int8 lattice
    * (the [[ivfSeedCentroids]] shape, or any trained table persisted
    * through the registry / COPY TO), so a FROZEN quantizer outlives
    * the session and NEW corpus batches assign against it with cell
    * ids comparable across batches — the incremental-index workflow:
    * union the new assignments into the existing cell table and
    * [[ivfTopKFrom]] / [[knnGraphFrom]] / [[semanticDedupFrom]]
    * compose unchanged. Assignment arithmetic is EXACT integer math
    * (squared L2 on the lattice — the pqEncode convention), so the
    * DuckDB oracle replays every assignment bit-for-bit; the inline
    * trainer's float-accumulation wall does not exist here. Ties
    * break toward the LOWEST cell id in both engines (struct-min
    * ordering).
    *
    * 100 TB shape: centroids aggregate to ONE row and BROADCAST;
    * assignment is a pure per-row projection (cells × dim integer
    * fold) — zero shuffle, zero explode. A ragged centroid table or a
    * centroid/vector dimension mismatch raises in-plan (the ragged
    * check runs once inside the 1-row broadcast aggregate — r13,
    * advice: compensating per-cell lengths must not pass the total-
    * size guard); an empty centroid table raises too.
    * Returns (vec_id, embedding, cell, cell_d). */
  def ivfAssign(emb: DataFrame, centroids: DataFrame): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    // r12: the argmin runs through the native PqEncodeCodes expression
    // with ONE block (m=1) — whole-vector argmin over the flattened
    // cell-ordered centroid matrix inside whole-stage codegen. The
    // previous array_min(transform(... aggregate ...)) form paid
    // interpreted lambda dispatch per centroid per dimension per row
    // (Spark HOFs are CodegenFallback — the pqEncode lesson; measured
    // q_ann_assign 0.71 -> ~0.3 s at sf0.1). Ties break to the lowest
    // code index = lowest cell id (the table is sorted by cell), the
    // same tie rule as the struct array_min. The cell/q flatten runs
    // ONCE inside the broadcast 1-row aggregate, never per corpus row.
    val ct = F.broadcast(centroids.agg(
      F.sort_array(F.collect_list(F.struct(
        F.col("cell").cast("long").as("cell"), F.col("q").as("q"))))
        .as("__ct"))
      .selectExpr("transform(__ct, c -> c.cell) as __cells",
        "flatten(transform(__ct, c -> c.q)) as __flat",
        "size(__ct) as __nc",
        // distinct per-cell widths — >1 means a RAGGED table, which
        // the total-size guard alone cannot see when lengths
        // compensate (e.g. dims 3 and 5 vs 4-dim vectors)
        "size(array_distinct(transform(__ct, c -> size(c.q)))) as __nw"))
    int8Lattice(emb, keep = Seq("embedding"))
      .crossJoin(ct)
      .withColumn("__best", F.expr(
        // the size guard replaces the HOF fold's ANSI index error: a
        // batch/quantizer dimension mismatch in EITHER direction must
        // fail loudly, never silently prefix-score (review r11)
        s"""case when __nc = 0
             then raise_error('ivfAssign: empty centroid table')
             when __nw > 1
             then raise_error('ivfAssign: ragged centroid table ' ||
               '(cells disagree on dimension count)')
             when size(__flat) != __nc * size(q)
             then raise_error(concat('ivfAssign: centroid/vector ',
               'dimension mismatch (', size(__flat), ' centroid values for ',
               __nc, ' cells x ', size(q), ' dims)'))
             else graft_pq_encode(q, __flat, 1, ${Int.MaxValue})
           end"""))
      .selectExpr("vec_id", "embedding",
        "element_at(__cells, __best.codes[0] + 1) as cell",
        "__best.pq_err as cell_d")
  }

  /** Deterministic seed quantizer for [[ivfAssign]] (the
    * seedCodebook convention): the `cells` lowest-vec_id vectors'
    * int8 lattices, cell ids 0..cells-1 in vec_id order —
    * replayable cross-engine; swap in a trained table for
    * production recall. */
  def ivfSeedCentroids(emb: DataFrame, cells: Int): DataFrame = {
    require(cells >= 1, "cells must be positive")
    val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
    // cells-row window by construction
    int8Lattice(emb.orderBy("vec_id").limit(cells))
      .withColumn("cell", F.row_number().over(w).cast("long") - 1)
      .select("cell", "q")
  }

  /** IVF probe/rerank over a table with a `cell` column (from
    * [[ivfBuild]] or any quantizer): a query probes only its own
    * cell and exact-ranks within it. */
  def ivfTopKFrom(cellAssigned: DataFrame, queryPred: String, k: Int): DataFrame = {
    GraftFunctions.register(cellAssigned.sparkSession)
    val e = cellAssigned.selectExpr("vec_id", "embedding", "cell",
      s"$norm2Expr as norm2")
    val q = F.broadcast(
      e.filter(queryPred)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("ea"),
                F.col("norm2").as("na"), F.col("cell").as("qcell")))
    q.join(e.select(F.col("vec_id").as("neighbor_id"),
                    F.col("embedding").as("eb"), F.col("norm2").as("nb"),
                    F.col("cell")),
           F.col("qcell") === F.col("cell") &&
           F.col("query_id") =!= F.col("neighbor_id"))
      .selectExpr("query_id", "neighbor_id", s"round($pairCos, 6) as sim")
      .withColumn("rnk", F.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(F.col("sim").desc, F.col("neighbor_id"))).cast("long"))
      .filter(F.col("rnk") <= k)
      .select("query_id", "neighbor_id", "sim", "rnk")
  }

  /** IVF-style ANN: the corpus is partitioned into coarse cells (an
    * inverted file); a query probes only its own cell and exact-ranks
    * within it. Here the precomputed `label` column stands in for the
    * coarse-quantizer assignment (trained form: [[ivfBuild]], same
    * plan shape). Scale: cell-key shuffle, corpus scan touches one
    * cell per query. */
  def ivfTopK(emb: DataFrame, queryPred: String, k: Int): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val e = emb.selectExpr("vec_id", "embedding", "label",
      s"$norm2Expr as norm2")
    val q = F.broadcast(
      e.filter(queryPred)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("ea"),
                F.col("norm2").as("na"), F.col("label").as("qcell")))
    q.join(e.select(F.col("vec_id").as("neighbor_id"),
                    F.col("embedding").as("eb"), F.col("norm2").as("nb"),
                    F.col("label")),
           F.col("qcell") === F.col("label") &&
           F.col("query_id") =!= F.col("neighbor_id"))
      .selectExpr("query_id", "neighbor_id", s"round($pairCos, 6) as sim")
      .withColumn("rnk", F.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(F.col("sim").desc, F.col("neighbor_id"))).cast("long"))
      .filter(F.col("rnk") <= k)
      .select("query_id", "neighbor_id", "sim", "rnk")
  }

  /** Multi-probe LSH ANN: each query probes its own bucket plus every
    * bucket at hamming distance 1 (one flipped sign bit) — the
    * standard recall lever that avoids extra hash tables: planes
    * whose projection is near zero are the likely-wrong bits, and
    * probing their flips recovers neighbors that landed across the
    * boundary. Only the small query side explodes (×(Planes+1)); the
    * corpus is still hit by an equi-join on bucket. */
  def lshTopKMultiProbe(emb: DataFrame, queryPred: String, k: Int): DataFrame = {
    val e = withBucketAndNorm(emb)
    val probes = (0 until Planes).map(j => s"cast(bucket ^ ${1 << j} as int)")
      .mkString(", ")
    val q = F.broadcast(
      e.filter(queryPred)
        .selectExpr("vec_id as query_id", "embedding as ea", "norm2 as na",
          s"explode(array(bucket, $probes)) as qbucket"))
    q.join(e.select(F.col("vec_id").as("neighbor_id"),
                    F.col("embedding").as("eb"), F.col("norm2").as("nb"),
                    F.col("bucket")),
           F.col("qbucket") === F.col("bucket") &&
           F.col("query_id") =!= F.col("neighbor_id"))
      // no dedup needed: a neighbor lives in exactly one bucket and
      // the probe set is distinct, so each (query, neighbor) joins once
      .selectExpr("query_id", "neighbor_id", s"round($pairCos, 6) as sim")
      .withColumn("rnk", F.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(F.col("sim").desc, F.col("neighbor_id"))).cast("long"))
      .filter(F.col("rnk") <= k)
      .select("query_id", "neighbor_id", "sim", "rnk")
  }

  /** LSH-bucketed ANN: probe only the query's own bucket, then exact
    * rerank — the 100 TB path (bucket-key shuffle instead of full
    * scan per query). */
  def lshTopK(emb: DataFrame, queryPred: String, k: Int): DataFrame = {
    val e = withBucketAndNorm(emb)
    val q = F.broadcast(
      e.filter(queryPred)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("ea"),
                F.col("norm2").as("na"), F.col("bucket").as("qbucket")))
    q.join(e.select(F.col("vec_id").as("neighbor_id"),
                    F.col("embedding").as("eb"), F.col("norm2").as("nb"),
                    F.col("bucket")),
           F.col("qbucket") === F.col("bucket") &&
           F.col("query_id") =!= F.col("neighbor_id"))
      .selectExpr("query_id", "neighbor_id", s"round($pairCos, 6) as sim")
      .withColumn("rnk", F.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(F.col("sim").desc, F.col("neighbor_id"))).cast("long"))
      .filter(F.col("rnk") <= k)
      .select("query_id", "neighbor_id", "sim", "rnk")
  }

  /** Recall@k audit of an approximate-nearest-neighbor method
    * against exact ground truth (r12): `approx` and `exact` each
    * carry (query_id, neighbor_id) — typically an LSH/IVF/PQ result
    * vs [[bruteForceTopK]] on the same queries. Returns per query
    * (query_id, n_exact, n_hit, recall) where recall =
    * n_hit / n_exact. This is the production dial for every bucketed
    * ANN variant: measure the recall a bucketing setting buys before
    * trading it for speed at corpus scale. Plan: one hash join on
    * the narrow (query_id, neighbor_id) pairs + one aggregation —
    * rows are two ints each, so the shuffle is bounded by
    * queries × k regardless of embedding width. Scales. */
  def annRecall(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(F.col("query_id"), F.col("neighbor_id"))
      .withColumn("__hit", F.lit(1L))
    exact.select("query_id", "neighbor_id")
      .join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(F.count(F.lit(1)).as("n_exact"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0L))).as("n_hit"))
      .select(F.col("query_id"), F.col("n_exact"), F.col("n_hit"),
        (F.col("n_hit").cast("double") / F.col("n_exact")).as("recall"))
  }

  /** Reciprocal-rank fusion (r12): merges two ranked result tables
    * (query_id, neighbor_id, rnk) into one ranking per query with
    * the standard RRF score Σ 1/(k + rank) (Cormack et al. 2009) —
    * the production recipe for hybrid retrieval (BM25 + embedding,
    * or two ANN variants with different failure modes). A candidate
    * absent from one list simply contributes no term (the RRF
    * convention). Output: (query_id, neighbor_id, rrf, fused_rank),
    * fused_rank dense per query with neighbor_id tiebreak. Plan:
    * full-outer join on the narrow id pairs + one rank window
    * per-query — shuffle bounded by queries × k, embedding width
    * never moves. Scales. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int = 60): DataFrame = {
    require(k >= 1, "RRF constant must be at least 1")
    def side(df: DataFrame, out: String): DataFrame =
      df.select(F.col("query_id"), F.col("neighbor_id"),
        F.col("rnk").cast("long").as(out))
    side(a, "__ra").join(side(b, "__rb"),
        Seq("query_id", "neighbor_id"), "full_outer")
      .select(F.col("query_id"), F.col("neighbor_id"),
        (F.coalesce(F.lit(1.0) / (F.lit(k) + F.col("__ra")), F.lit(0.0)) +
         F.coalesce(F.lit(1.0) / (F.lit(k) + F.col("__rb")), F.lit(0.0)))
          .as("rrf"))
      .withColumn("fused_rank", F.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(F.col("rrf").desc, F.col("neighbor_id"))).cast("long"))
  }

  /** Hot-cell bound for the cell-bounded family (r11, VERDICT r10
    * "Next round" #8): the O(|cell|²) within-cell term is unbounded
    * when quantization produces a giant cell (a near-duplicate-heavy
    * corpus region — exactly where dedup/kNN run). With
    * `maxCellSize > 0`, per-cell counts (a tiny two-phase aggregate,
    * one row per cell) derive a split factor ceil(n/maxCellSize);
    * the factor broadcasts back and a deterministic secondary hash
    * pmod(xxhash64(vec_id), splits) refines the join key. Pairs then
    * form within SUB-cells only — per-task input is bounded by
    * maxCellSize (in expectation) at a documented recall trade:
    * within-cell neighbors landing in different sub-cells are not
    * compared (the SemDeDup trade, one level down). Cells at or
    * under the bound keep splits=1, so their pair set is unchanged.
    * `maxCellSize <= 0` (the default) bypasses everything — the
    * existing single-key plan, byte for byte. */
  private def boundCells(e: DataFrame, maxCellSize: Int)
      : (DataFrame, Seq[String]) =
    if (maxCellSize <= 0) (e, Seq("cell"))
    else {
      val splits = e.groupBy("cell").agg(
        F.greatest(F.lit(1L),
          F.ceil(F.count(F.lit(1)).cast("double") / maxCellSize))
          .as("__splits"))
      val refined = e.join(F.broadcast(splits), Seq("cell"))
        .withColumn("__sub",
          F.pmod(F.xxhash64(F.col("vec_id")), F.col("__splits"))
            .cast("int"))
        .drop("__splits")
      (refined, Seq("cell", "__sub"))
    }

  /** SemDeDup-style semantic deduplication (the embedding-space
    * analogue of MinHash dedup used on modern pretraining corpora):
    * partition the corpus into coarse cells, connect within-cell
    * pairs with cosine >= threshold, and keep ONE representative per
    * connected duplicate group — the min-id member, matching
    * [[graft.ops.Dedup.dedupedCorpus]]'s convention. Returns one row
    * per vector: (vec_id, cell, group_id, kept).
    *
    * Scale: pairs form per cell only — the cell-key shuffle moves
    * each (id, embedding) row once and per-cell cost is O(|cell|²),
    * the SemDeDup cost model (cell count grows with the corpus to
    * bound |cell|; duplicate groups never span cells by
    * construction). Group closure runs the same bounded min-label
    * propagation as text dedup (reliable checkpointing available
    * there for cluster runs). */
  def semanticDedupFrom(cellAssigned: DataFrame, threshold: Double,
                        cellCol: String = "cell",
                        maxCellSize: Int = 0): DataFrame = {
    GraftFunctions.register(cellAssigned.sparkSession)
    val e = cellAssigned.selectExpr("vec_id", "embedding",
      s"$cellCol as cell", s"$norm2Expr as norm2")
    val (e1, keys) = boundCells(e, maxCellSize)
    val a = e1.select(keys.map(c => F.col(c).as(c + "_a")) ++ Seq(
      F.col("vec_id").as("id_a"),
      F.col("embedding").as("ea"), F.col("norm2").as("na")): _*)
    val b = e1.select(keys.map(c => F.col(c).as(c + "_b")) ++ Seq(
      F.col("vec_id").as("id_b"),
      F.col("embedding").as("eb"), F.col("norm2").as("nb")): _*)
    val pairs = a.join(b,
        keys.map(c => F.col(c + "_a") === F.col(c + "_b"))
          .reduce(_ && _) && F.col("id_a") < F.col("id_b"))
      .filter(F.expr(pairCos) >= threshold)
      .select(F.col("id_a"), F.col("id_b"))
    val groups = graft.ops.Dedup.connectedComponents(pairs)
      .select(F.col("id").as("vec_id"), F.col("label").as("group_id"))
    e.select("vec_id", "cell")
      .join(groups, Seq("vec_id"), "left_outer")
      .selectExpr("vec_id", "cell",
        "coalesce(group_id, vec_id) as group_id",
        "coalesce(group_id, vec_id) = vec_id as kept")
  }

  /** kNN graph construction (SURVEY §2.2 row 120, r10): every
    * vector's top-k cosine neighbors WITHIN its coarse cell — the
    * corpus×corpus self-join form of ANN (the query-set operators
    * broadcast a small query side; a graph build cannot). The
    * all-pairs work is cell-bounded exactly like [[semanticDedupFrom]]
    * (one cell-key shuffle, O(|cell|²) per cell, cells sized to bound
    * the quadratic term), the per-source ranking rides Spark's
    * rank-limit pushdown (WindowGroupLimit: each partition keeps k
    * rows per src before the final sort) — the standard input to
    * graph-based semantic clustering and kNN-propagated labels.
    *
    * Returns (src, dst, sim, rnk), rnk 1..k per src. Vectors alone in
    * their cell emit no edges; ZERO vectors are excluded from both
    * sides (cosine with a zero norm is 0/0 = NaN, and Spark sorts NaN
    * as the largest double — a zero vector would otherwise become
    * every cell-mate's rank-1 "neighbor"). */
  def knnGraphFrom(cellAssigned: DataFrame, k: Int,
                   cellCol: String = "cell",
                   maxCellSize: Int = 0): DataFrame = {
    require(k >= 1, "k must be positive")
    GraftFunctions.register(cellAssigned.sparkSession)
    val e = cellAssigned.selectExpr("vec_id", "embedding",
      s"$cellCol as cell", s"$norm2Expr as norm2")
      .filter(F.col("norm2") > 0)
    val (e1, keys) = boundCells(e, maxCellSize)
    val a = e1.select(keys.map(c => F.col(c).as(c + "_a")) ++ Seq(
      F.col("vec_id").as("src"),
      F.col("embedding").as("ea"), F.col("norm2").as("na")): _*)
    val b = e1.select(keys.map(c => F.col(c).as(c + "_b")) ++ Seq(
      F.col("vec_id").as("dst"),
      F.col("embedding").as("eb"), F.col("norm2").as("nb")): _*)
    a.join(b,
        keys.map(c => F.col(c + "_a") === F.col(c + "_b"))
          .reduce(_ && _) && F.col("src") =!= F.col("dst"))
      .selectExpr("src", "dst", s"round($pairCos, 6) as sim")
      .withColumn("rnk", F.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("src")
          .orderBy(F.col("sim").desc, F.col("dst"))).cast("long"))
      .filter(F.col("rnk") <= k)
      .select("src", "dst", "sim", "rnk")
  }

  /** [[knnGraphFrom]] over real k-means cells ([[ivfBuild]]); the
    * oracle-checked entry uses the precomputed `label` column (the
    * q_ann_ivf adjudication pattern — trainer float accumulation
    * cannot be replayed cross-engine; the plan is identical). */
  def knnGraph(emb: DataFrame, k: Int, cells: Int = 16,
               seed: Long = 42L): DataFrame =
    knnGraphFrom(ivfBuild(emb, cells, seed), k)

  /** Hard-negative mining (SURVEY §2.2 row 126, r11b): each anchor's
    * top-k most-SIMILAR vectors carrying a DIFFERENT label — the
    * contrastive-training complement of
    * [[graft.ops.Sampling.hashNegatives]]' random ring (random
    * negatives are easy; the informative ones are the near misses).
    * Same cell-bounded self-join + rank-limit pushdown shape as
    * [[knnGraphFrom]] (one cell-key shuffle, O(|cell|²) per cell,
    * WindowGroupLimit keeps k rows per anchor per partition), with
    * the label INEQUALITY folded into the join condition so
    * same-label pairs never materialize. Within-cell only — the
    * documented knnGraph recall trade; vectors with a NULL label (or
    * zero norm) emit and attract nothing (the inequality is
    * three-valued, and a zero vector's NaN cosine would sort as the
    * largest double). Returns (src, src_label, dst, dst_label, sim,
    * rnk), rnk 1..k per src. */
  def hardNegatives(cellAssigned: DataFrame, k: Int,
                    labelCol: String = "label",
                    cellCol: String = "cell",
                    maxCellSize: Int = 0): DataFrame = {
    require(k >= 1, "k must be positive")
    GraftFunctions.register(cellAssigned.sparkSession)
    val e = cellAssigned.selectExpr("vec_id", "embedding",
      s"$labelCol as __lbl", s"$cellCol as cell", s"$norm2Expr as norm2")
      .filter(F.col("norm2") > 0)
    val (e1, keys) = boundCells(e, maxCellSize)
    val a = e1.select(keys.map(c => F.col(c).as(c + "_a")) ++ Seq(
      F.col("vec_id").as("src"), F.col("__lbl").as("src_label"),
      F.col("embedding").as("ea"), F.col("norm2").as("na")): _*)
    val b = e1.select(keys.map(c => F.col(c).as(c + "_b")) ++ Seq(
      F.col("vec_id").as("dst"), F.col("__lbl").as("dst_label"),
      F.col("embedding").as("eb"), F.col("norm2").as("nb")): _*)
    a.join(b,
        keys.map(c => F.col(c + "_a") === F.col(c + "_b"))
          .reduce(_ && _) && F.col("src_label") =!= F.col("dst_label"))
      .selectExpr("src", "src_label", "dst", "dst_label",
        s"round($pairCos, 6) as sim")
      .withColumn("rnk", F.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("src")
          .orderBy(F.col("sim").desc, F.col("dst"))).cast("long"))
      .filter(F.col("rnk") <= k)
  }

  /** kNN label propagation / classification (SURVEY §2.2 row 128,
    * r11b): each unlabeled vector takes the MAJORITY label of its k
    * most-similar LABELED cell-mates — the one-shot semi-supervised
    * labeling pass (expand a small hand-labeled seed set over a big
    * corpus; also the standard eval for embedding quality). Vote
    * ties break to the smallest label, then prediction confidence =
    * votes/k_used.
    *
    * Plan shape: unlabeled×labeled join ON THE CELL KEY only (never
    * all-pairs), per-query top-k under rank-limit pushdown
    * (WindowGroupLimit), then a (query, label) count fold and a
    * deterministic argmax window. Cells come from any assignment —
    * [[ivfBuild]], [[ivfAssign]] (the frozen-quantizer production
    * path), or a hash. Queries whose cell holds no labeled vector
    * (or only zero-norm ones) read a NULL prediction with 0 votes —
    * never a silent drop. Zero-norm vectors are excluded from BOTH
    * sides (NaN cosine sorts largest).
    *
    * Returns (vec_id, pred_label, votes, k_used). */
  def knnClassify(labeled: DataFrame, unlabeled: DataFrame, k: Int,
                  labelCol: String = "label",
                  cellCol: String = "cell"): DataFrame = {
    require(k >= 1, "k must be positive")
    GraftFunctions.register(labeled.sparkSession)
    val l = labeled.selectExpr("vec_id as __lid", "embedding as eb",
        s"$labelCol as __lbl", s"$cellCol as cell",
        "graft_dot(embedding, embedding) as nb")
      .filter(F.col("nb") > 0)
    val q = unlabeled.selectExpr("vec_id", "embedding as ea",
        s"$cellCol as cell",
        "graft_dot(embedding, embedding) as na")
      .filter(F.col("na") > 0)
    val w = org.apache.spark.sql.expressions.Window
    val topk = q.join(l, Seq("cell"))
      .selectExpr("vec_id", "__lid", "__lbl",
        s"round($pairCos, 6) as __sim")
      .withColumn("__rnk", F.row_number().over(
        w.partitionBy("vec_id")
          .orderBy(F.col("__sim").desc, F.col("__lid"))))
      .filter(F.col("__rnk") <= k)
    val voted = topk.groupBy("vec_id", "__lbl")
      .agg(F.count(F.lit(1)).as("votes"))
      .withColumn("__vr", F.row_number().over(
        w.partitionBy("vec_id")
          .orderBy(F.col("votes").desc, F.col("__lbl"))))
      .filter(F.col("__vr") === 1)
    val kUsed = topk.groupBy("vec_id")
      .agg(F.count(F.lit(1)).as("k_used"))
    unlabeled.select("vec_id")
      .join(voted.select(F.col("vec_id"), F.col("__lbl").as("pred_label"),
        F.col("votes")), Seq("vec_id"), "left")
      .join(kUsed, Seq("vec_id"), "left")
      .select(F.col("vec_id"), F.col("pred_label"),
        F.coalesce(F.col("votes"), F.lit(0L)).as("votes"),
        F.coalesce(F.col("k_used"), F.lit(0L)).as("k_used"))
  }

  /** [[semanticDedupFrom]] over real k-means cells ([[ivfBuild]]).
    * The oracle-checked entry uses the precomputed `label` column as
    * the cell instead (trainer float accumulation cannot be replayed
    * bit-identically cross-engine); the plan below is identical. */
  def semanticDedup(emb: DataFrame, threshold: Double, cells: Int = 16,
                    seed: Long = 42L): DataFrame =
    semanticDedupFrom(ivfBuild(emb, cells, seed), threshold)

  /** Per-label embedding centroids in long form (label, dimension,
    * mean) — the building block for class prototypes and IVF/k-means
    * cell refresh. posexplode is a flatMap (no shuffle); the mean is
    * ONE (label, pos) shuffle with map-side partial sums, so the wide
    * row count is corpus×dim but the shuffled state is labels×dim
    * regardless of corpus size.
    *
    * The float32 components are exact in double and per-group counts
    * keep the double sum well under 53 significant bits, so the mean
    * is order-independent and cross-engine reproducible; round(6)
    * guards the margins at larger SFs. */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.selectExpr("label", "posexplode(embedding) as (pos, v)")
      .groupBy("label", "pos")
      .agg(F.count(F.lit(1)).as("n"),
           F.round(F.avg(F.col("v").cast("double")), 6).as("centroid"))
      .select("label", "pos", "n", "centroid")

  /** Symmetric int8 max-abs quantization per vector — 4× smaller
    * embedding storage with the per-vector `scale` to dequantize
    * (q/127*scale). Pure projection: whole-stage codegen, no shuffle,
    * embarrassingly parallel at any corpus size.
    *
    * Determinism: float32 components are exact in double, abs/max are
    * exact, and `floor(v*127/scale + 0.5)` evaluates the identical
    * IEEE double expression in any engine (round() would hit
    * rounding-mode divergence at .5; floor never does). A zero vector
    * has scale 0 and quantizes to all zeros (guarded — 0/0 is
    * engine-divergent). Output keeps the long-form contract of the
    * centroid op: per-vector scale plus checksum aggregates of the
    * int8 array (sum and L1), which pin every quantized value without
    * shipping engine-specific array renderings through the oracle. */
  def quantizeEmbeddings(emb: DataFrame): DataFrame =
    emb
      .selectExpr("vec_id", "embedding",
        "cast(array_max(transform(embedding, v -> abs(cast(v as double)))) as double) as scale")
      .selectExpr("vec_id", "scale",
        """case when scale = 0D then transform(embedding, v -> 0L)
             else transform(embedding,
               v -> cast(floor(cast(v as double) * 127D / scale + 0.5D) as bigint))
           end as q""")
      .selectExpr("vec_id", "scale",
        "cast(size(q) as int) as dim",
        "aggregate(q, 0L, (acc, x) -> acc + x) as q_sum",
        "aggregate(q, 0L, (acc, x) -> acc + abs(x)) as q_l1")

  /** Int8 lattice shared by [[quantizeEmbeddings]] and the PQ encoder:
    * (vec_id, q: array<bigint>) — symmetric max-abs quantization with
    * floor(x+0.5) rounding (IEEE-identical cross-engine), zero
    * vectors guarded. `keep` threads extra columns (e.g. the IVF cell)
    * through the projection. r13: the native
    * [[graft.functions.Int8Lattice]] expression (two primitive loops
    * in whole-stage codegen) replaces the three interpreted HOF
    * passes per corpus row — bit-identical arithmetic, spec-pinned
    * against the HOF spelling ([[quantizeEmbeddings]] keeps it: its
    * contract exposes the scale). */
  private def int8Lattice(emb: DataFrame,
                          keep: Seq[String] = Nil): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    emb.selectExpr(Seq("vec_id", "graft_int8(embedding) as q") ++ keep: _*)
  }

  /** Product quantization encode (r5c) — the ANN compression tier
    * beyond int8: each vector splits into `m` sub-blocks and each
    * block stores only the index of its nearest codebook centroid,
    * taking d·4 float bytes down to m code bytes (k ≤ 256); ADC
    * search then scores candidates from per-block lookup tables.
    *
    * The codebook here is the DETERMINISTIC seed form — block slices
    * of the k lowest-vec_id vectors on the int8 lattice — so the
    * assignment arithmetic is EXACT integer math and the DuckDB
    * oracle replays codes and reconstruction error bit-for-bit
    * (per-block k-means training, the production codebook, drops
    * into the same plan: it only changes the centroid table, exactly
    * as ivfBuild does for IVF cells). Ties break toward the lowest
    * code in both engines.
    *
    * 100 TB shape: the codebook (m·k centroids) aggregates into ONE
    * row and BROADCASTS; encoding is then a pure per-row projection
    * of nested codegen'd HOFs — zero shuffle, zero explode, the same
    * posture as int8 quantization. Output: (vec_id, codes
    * array<int>, pq_err bigint = summed squared int8 distance). */
  def pqEncode(emb: DataFrame, m: Int = 4, k: Int = 16): DataFrame = {
    require(m >= 1 && k >= 1, "m and k must be positive")
    GraftFunctions.register(emb.sparkSession)
    val q = int8Lattice(emb)
    encodeWithCodebook(q, seedCodebook(q, m, k), m, k)
  }

  /** The deterministic seed codebook: block slices of the k
    * lowest-vec_id vectors on the int8 lattice (oracle-replayable —
    * see [[pqEncode]]). (block, code, centroid). */
  private def seedCodebook(q: DataFrame, m: Int, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
    // k rows — the window is k-row tiny by construction
    val seeds = q.orderBy("vec_id").limit(k)
      .withColumn("code", F.row_number().over(w).cast("int") - 1)
    seeds.selectExpr("code",
        s"""explode(transform(sequence(0, ${m - 1}), b ->
             struct(b as block,
               slice(q, b * (size(q) div $m) + 1, size(q) div $m)
                 as centroid))) as bc""")
      .selectExpr("bc.block as block", "code", "bc.centroid as centroid")
  }

  /** Trained PQ codebook (r6): per-block k-means over the int8
    * lattice's block slices — the production codebook [[pqEncode]]'s
    * scaladoc promises, reusing the same spark.ml distributed
    * Lloyd's path as [[ivfBuild]] (m fits of a k-centroid model, one
    * per block). Centroids round back ONTO the int8 lattice
    * (floor(c + 0.5)) so encoding stays exact integer arithmetic in
    * the same codegen'd [[graft.functions.PqEncodeCodes]] expression
    * — training only changes the centroid table, exactly as ivfBuild
    * does for IVF cells. Output: (block, code, centroid) — feed to
    * [[pqEncodeWith]]. Like IVF, the float-accumulation-sensitive
    * trainer cannot be replayed bit-identically in another engine, so
    * the oracle entry stays on the seed form; OpsSpec pins trained
    * reconstruction error <= seed error. */
  def pqTrain(emb: DataFrame, m: Int = 4, k: Int = 16,
              seed: Long = 42L): DataFrame = {
    require(m >= 1 && k >= 1, "m and k must be positive")
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val q = int8Lattice(emb)
    val rows = (0 until m).flatMap { b =>
      val bf = q.selectExpr(
          s"slice(q, $b * (size(q) div $m) + 1, size(q) div $m) as blk")
        .withColumn("__vec",
          array_to_vector(F.expr("transform(blk, x -> cast(x as double))")))
      val model = new KMeans().setK(k).setSeed(seed + b)
        .setFeaturesCol("__vec").setPredictionCol("__c")
        .fit(bf)
      // KMeans may return < k centers when a block has fewer than k
      // distinct slices; the flat block-major codebook the codegen'd
      // encoder indexes assumes exactly k per block, so pad by
      // repeating the last center (a duplicate centroid is harmless:
      // argmin just never picks the higher code)
      val centers = model.clusterCenters
      val padded = centers ++ Array.fill(k - centers.length)(centers.last)
      padded.zipWithIndex.map { case (v, c) =>
        (b, c, v.toArray.map(x => math.floor(x + 0.5).toLong).toSeq)
      }
    }
    emb.sparkSession.createDataFrame(rows)
      .toDF("block", "code", "centroid")
  }

  /** PQ encode against a caller-supplied (block, code, centroid)
    * codebook — trained ([[pqTrain]]) or seed; same broadcast +
    * codegen projection either way. */
  def pqEncodeWith(emb: DataFrame, codebook: DataFrame,
                   m: Int = 4, k: Int = 16): DataFrame = {
    require(m >= 1 && k >= 1, "m and k must be positive")
    // the flat block-major payload the codegen'd encoder indexes
    // assumes exactly m*k (block, code) rows — a short codebook would
    // silently misalign every block past the gap (one tiny count on a
    // ≤ m·k-row table; this entry point is the caller-supplied one,
    // the seed path constructs exactly m*k by construction)
    val n = codebook.count()
    require(n == m.toLong * k,
      s"codebook must have exactly m*k = ${m * k} rows, got $n")
    GraftFunctions.register(emb.sparkSession)
    encodeWithCodebook(int8Lattice(emb),
      codebook.selectExpr("block", "code",
        "transform(centroid, x -> cast(x as bigint)) as centroid"), m, k)
  }

  /** Shared encode tail: collapse the (block, code, centroid) table
    * into ONE flat block-major array [(b·k + c)·sub + i] — the
    * broadcast payload the codegen'd encoder indexes directly (the
    * r5c HOF formulation carried an array of structs and re-evaluated
    * the distance aggregate per comparison through interpreted
    * lambdas — 1.95 s at sf0.1 vs 0.35 s for this form). */
  private def flatCodebookRow(cb: DataFrame): DataFrame =
    cb.groupBy().agg(F.expr(
      """flatten(transform(
           array_sort(collect_list(struct(block, code, centroid))),
           s -> s.centroid))""").as("__cb"))

  private def encodeWithCodebook(q: DataFrame, cb: DataFrame,
                                 m: Int, k: Int,
                                 keep: Seq[String] = Nil): DataFrame = {
    val cbRow = flatCodebookRow(cb)
    q.crossJoin(F.broadcast(cbRow))
      .selectExpr(Seq("vec_id", s"graft_pq_encode(q, __cb, $m, $k) as __r")
        ++ keep: _*)
      .selectExpr(Seq("vec_id", "__r.codes as codes", "__r.pq_err as pq_err")
        ++ keep: _*)
  }

  /** Per-query ADC distance-table projection: dtab[b·kc + c] =
    * ‖q_block − centroid(b, c)‖² on the int8 lattice — exact integer
    * HOFs, evaluated on the TINY query side only. Expects `q` and the
    * broadcast `__cb` flat codebook in scope. */
  private def dtabExpr(m: Int, kc: Int): String =
    s"""transform(sequence(0, ${m * kc - 1}), t ->
          aggregate(sequence(1, size(q) div $m), 0L, (acc, i) ->
            acc + (q[(t div $kc) * (size(q) div $m) + i - 1]
                    - __cb[t * (size(q) div $m) + i - 1])
                * (q[(t div $kc) * (size(q) div $m) + i - 1]
                    - __cb[t * (size(q) div $m) + i - 1])))
       as dtab"""

  /** ADC score: m table lookups summed per (query, code-row) pair.
    * `m` is a plan-time literal, so the fold UNROLLS into m plain
    * array subscripts summed in whole-stage codegen (r13 — the
    * `aggregate(sequence(...))` spelling was an interpreted
    * CodegenFallback lambda dispatched per corpus row × per query,
    * the same residue the r12 ivfAssign argmin carried; identical
    * arithmetic and null/OOB semantics, the ops are the same
    * GetArrayItem/Add nodes the fold evaluated one level down). */
  private def adcExpr(m: Int, kc: Int): String =
    (0 until m).map(b => s"dtab[${b * kc} + codes[$b]]")
      .mkString("(", " + ", ") as adc")

  /** ADC (asymmetric-distance) top-k search over the PQ-encoded
    * corpus (r9) — the search half of SURVEY row 95. Each query
    * precomputes an m×k distance table against the codebook on the
    * int8 lattice (exact integer math, so the DuckDB oracle replays
    * the CANDIDATE SET bit-for-bit); the corpus scan then reads only
    * the m-byte codes and sums m table lookups per (query, vector)
    * pair; the k·mult best ADC candidates per query are exact-cosine
    * reranked.
    *
    * 100 TB shape: the distance tables ride a tiny broadcast (nq ×
    * m·k longs); the big scan touches CODES ONLY (m ints per row vs
    * d floats — the compression actually pays at scan time, not just
    * at rest); the top-k window shuffles the narrow (query_id,
    * neighbor_id, adc) stream; the exact rerank joins the
    * candidate-bounded id set (broadcast) against the corpus, so
    * full embeddings are only ever read for k·mult rows per query.
    * Ties break on (adc, neighbor_id) then (sim desc, neighbor_id) —
    * deterministic in both engines. */
  def pqTopK(emb: DataFrame, queryPred: String, k: Int, m: Int = 4,
             kc: Int = 16, mult: Int = 4,
             codebook: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && mult >= 1, "k and mult must be positive")
    GraftFunctions.register(emb.sparkSession)
    val qz = int8Lattice(emb)
    val cb = codebook
      .map(_.selectExpr("block", "code",
        "transform(centroid, x -> cast(x as bigint)) as centroid"))
      .getOrElse(seedCodebook(qz, m, kc))
    val codes = encodeWithCodebook(qz, cb, m, kc)
    val cbRow = flatCodebookRow(cb)
    // per-query distance tables: dtab[b*kc + c] = ‖q_block − centroid‖²
    // (integer HOFs on the TINY query side only)
    val qd = qz.filter(queryPred).crossJoin(F.broadcast(cbRow))
      .selectExpr("vec_id as query_id", dtabExpr(m, kc))
    val scored = codes
      .join(F.broadcast(qd), F.col("query_id") =!= F.col("vec_id"))
      .selectExpr("query_id", "vec_id as neighbor_id", adcExpr(m, kc))
    val cands = scored
      .withColumn("crnk", F.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(F.col("adc").asc, F.col("neighbor_id").asc)))
      .filter(F.col("crnk") <= k * mult)
      .select("query_id", "neighbor_id")
    val e = emb.selectExpr("vec_id", "embedding", s"$norm2Expr as norm2")
    val queries = e.filter(queryPred)
      .select(F.col("vec_id").as("query_id"), F.col("embedding").as("ea"),
              F.col("norm2").as("na"))
    e.select(F.col("vec_id").as("neighbor_id"),
             F.col("embedding").as("eb"), F.col("norm2").as("nb"))
      .join(F.broadcast(cands), Seq("neighbor_id"))
      .join(F.broadcast(queries), Seq("query_id"))
      .selectExpr("query_id", "neighbor_id", s"round($pairCos, 6) as sim")
      .withColumn("rnk", F.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(F.col("sim").desc, F.col("neighbor_id"))).cast("long"))
      .filter(F.col("rnk") <= k)
      .select("query_id", "neighbor_id", "sim", "rnk")
  }

  /** IVF-PQ composed ANN (r10) — the production memory-bounded tier
    * a 100 TB corpus actually runs (VERDICT r9 #1): coarse cells
    * bound WHICH codes are scanned (IVF), product quantization bounds
    * WHAT the scan reads per row (m code bytes), and the exact rerank
    * touches full vectors for k·mult rows per query only. Flat-PQ
    * ([[pqTopK]]) pays nq × corpus ADC sums per batch; this probes
    * `nprobe` cells so the ADC scan is Σ|probed cells| instead.
    *
    * Stages:
    *  1. encode: the corpus int8 lattice PQ-encodes against the
    *     codebook (broadcast, codegen projection), the cell riding
    *     along — at rest this is the (cell, codes) inverted file.
    *  2. probe: nprobe=1 reads the query's own cell assignment (the
    *     deterministic oracle form, [[ivfTopK]]'s adjudication
    *     pattern). nprobe>1 ranks cells by ‖q − centroid(cell)‖² on
    *     the int8 lattice — per-cell per-dim integer SUMS and counts
    *     (exact, order-independent), then one IEEE-deterministic
    *     division/fold per (query, cell) on the tiny broadcast side.
    *  3. ADC: the codes scan hash-joins the broadcast (query, probe
    *     cell, dtab) set ON THE CELL KEY — cell-bounded by plan
    *     construction (PlanAuditSpec pins the BroadcastHashJoin),
    *     reading m-byte codes only.
    *  4. top k·mult candidates per query (group-limited window), then
    *     the same broadcast exact-cosine rerank as [[pqTopK]].
    *
    * A vector lives in exactly one cell and a query's probe cells are
    * distinct, so no (query, neighbor) pair duplicates — no dedup
    * shuffle. Ties break (adc, neighbor_id) then (sim desc,
    * neighbor_id): deterministic in both engines. */
  def ivfPqTopKFrom(cellAssigned: DataFrame, queryPred: String, k: Int,
                    m: Int = 4, kc: Int = 16, mult: Int = 4,
                    nprobe: Int = 1,
                    codebook: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && mult >= 1 && nprobe >= 1,
      "k, mult and nprobe must be positive")
    GraftFunctions.register(cellAssigned.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val qz = int8Lattice(cellAssigned, keep = Seq("cell"))
    val cb = codebook
      .map(_.selectExpr("block", "code",
        "transform(centroid, x -> cast(x as bigint)) as centroid"))
      .getOrElse(seedCodebook(qz, m, kc))
    val codes = encodeWithCodebook(qz, cb, m, kc, keep = Seq("cell"))
    val cbRow = flatCodebookRow(cb)
    val qd = qz.filter(queryPred).crossJoin(F.broadcast(cbRow))
      .selectExpr("vec_id as query_id", "q", "cell as qcell",
        dtabExpr(m, kc))
    val probes =
      if (nprobe == 1)
        qd.selectExpr("query_id", "qcell as pcell", "dtab")
      else {
        // per-cell lattice centroids: exact integer sums/counts, so
        // the double mean and the probe ranking are order-independent
        // and engine-deterministic
        val cellCent = qz
          .selectExpr("cell", "posexplode(q) as (pos, v)")
          .groupBy("cell", "pos")
          .agg(F.sum("v").as("s"), F.count(F.lit(1)).as("cnt"))
          .groupBy("cell")
          .agg(F.expr("""transform(
                 array_sort(collect_list(struct(pos, s, cnt))),
                 e -> cast(e.s as double) / cast(e.cnt as double))""")
            .as("cent"))
        // queries × cells is bounded tiny (broadcast side only)
        qd.crossJoin(F.broadcast(cellCent.withColumnRenamed("cell", "pcell")))
          .selectExpr("query_id", "pcell", "dtab",
            """aggregate(zip_with(q, cent,
                 (a, b) -> (cast(a as double) - b) * (cast(a as double) - b)),
               0D, (acc, x) -> acc + x) as cdist""")
          .withColumn("prk", F.row_number().over(
            Window.partitionBy("query_id")
              .orderBy(F.col("cdist").asc, F.col("pcell").asc)))
          .filter(F.col("prk") <= nprobe)
          .select("query_id", "pcell", "dtab")
      }
    // the cell-bounded ADC scan: codes hash-join the broadcast probe
    // set on the cell key; the != residual drops the self-pair
    val scored = codes
      .join(F.broadcast(probes),
        F.col("cell") === F.col("pcell") &&
        F.col("query_id") =!= F.col("vec_id"))
      .selectExpr("query_id", "vec_id as neighbor_id", adcExpr(m, kc))
    val cands = scored
      .withColumn("crnk", F.row_number().over(
        Window.partitionBy("query_id")
          .orderBy(F.col("adc").asc, F.col("neighbor_id").asc)))
      .filter(F.col("crnk") <= k * mult)
      .select("query_id", "neighbor_id")
    val e = cellAssigned.selectExpr("vec_id", "embedding",
      s"$norm2Expr as norm2")
    val queries = e.filter(queryPred)
      .select(F.col("vec_id").as("query_id"), F.col("embedding").as("ea"),
              F.col("norm2").as("na"))
    e.select(F.col("vec_id").as("neighbor_id"),
             F.col("embedding").as("eb"), F.col("norm2").as("nb"))
      .join(F.broadcast(cands), Seq("neighbor_id"))
      .join(F.broadcast(queries), Seq("query_id"))
      .selectExpr("query_id", "neighbor_id", s"round($pairCos, 6) as sim")
      .withColumn("rnk", F.row_number().over(
        Window.partitionBy("query_id")
          .orderBy(F.col("sim").desc, F.col("neighbor_id"))).cast("long"))
      .filter(F.col("rnk") <= k)
      .select("query_id", "neighbor_id", "sim", "rnk")
  }

  /** [[ivfPqTopKFrom]] with the precomputed `label` column standing
    * in for the coarse-quantizer cell — the oracle-checked form
    * ([[ivfTopK]]'s adjudication pattern; the trained path is
    * `ivfPqTopKFrom(ivfBuild(emb, cells), …)`, same plan shape). */
  def ivfPqTopK(emb: DataFrame, queryPred: String, k: Int,
                m: Int = 4, kc: Int = 16, mult: Int = 4,
                nprobe: Int = 1): DataFrame =
    ivfPqTopKFrom(emb.withColumn("cell", F.col("label")), queryPred, k,
      m, kc, mult, nprobe)

  /** Matryoshka truncation + L2 renormalization (r5b): keep the
    * first `d` dimensions and rescale to unit length — the standard
    * cheap-ANN move for models trained with nested (MRL) objectives:
    * the truncated index costs d/D of the full one, and queries can
    * re-rank survivors with full vectors. Pure per-row projection —
    * zero shuffle, codegen'd, composes directly with the LSH/IVF
    * builders. Zero vectors map to zero vectors (no NaNs). */
  def truncateNormalize(emb: DataFrame, d: Int): DataFrame = {
    require(d >= 1, "dimension count must be positive")
    emb
      .selectExpr("vec_id",
        s"transform(slice(embedding, 1, $d), v -> cast(v as double)) as t")
      .selectExpr("vec_id",
        "sqrt(aggregate(t, 0D, (acc, x) -> acc + x * x)) as norm", "t")
      .selectExpr("vec_id", "norm",
        "case when norm = 0D then transform(t, x -> 0D) " +
          "else transform(t, x -> x / norm) end as unit")
  }

  /** Two-stage retrieval (r5c): coarse search on the [[truncateNormalize]]
    * MRL index (cosine = plain dot of unit vectors at d/D scan cost),
    * keep each query's top `mult`·k coarse survivors, then exact-rank
    * ONLY the survivors with full-dimension cosine — the standard
    * recall/cost dial of production vector search (coarse recall
    * rises with `mult`, stage-2 cost is Q·mult·k rows regardless of
    * corpus size).
    *
    * Plan shape: stage 1 is the broadcast-queries corpus scan + heap
    * window of [[bruteForceTopK]] at truncated width; stage 2
    * BROADCASTS the (query, survivor) id list — the corpus is probed
    * by a broadcast hash join, never shuffled, and full vectors are
    * touched for survivors only. Both stages rank with deterministic
    * (score desc, neighbor_id) tie-breaks on engine-identical
    * arithmetic, so the oracle replays the exact result. */
  def twoStageTopK(emb: DataFrame, queryPred: String, d: Int, k: Int,
                   mult: Int = 4): DataFrame = {
    require(mult >= 1, "candidate multiplier must be positive")
    GraftFunctions.register(emb.sparkSession)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
    val t = truncateNormalize(emb, d).select("vec_id", "unit")
    val qc = F.broadcast(t.filter(queryPred)
      .select(F.col("vec_id").as("query_id"), F.col("unit").as("ua")))
    val cand = qc.join(
        t.select(F.col("vec_id").as("neighbor_id"), F.col("unit").as("ub")),
        F.col("query_id") =!= F.col("neighbor_id"))
      .selectExpr("query_id", "neighbor_id",
        "round(graft_dot(ua, ub), 6) as coarse")
      .withColumn("crnk", F.row_number().over(
        w.orderBy(F.col("coarse").desc, F.col("neighbor_id"))))
      .filter(F.col("crnk") <= mult * k)
      .select("query_id", "neighbor_id")
    val e = emb.selectExpr("vec_id", "embedding", s"$norm2Expr as norm2")
    val qf = F.broadcast(e.filter(queryPred)
      .select(F.col("vec_id").as("query_id"), F.col("embedding").as("ea"),
        F.col("norm2").as("na")))
    e.select(F.col("vec_id").as("neighbor_id"), F.col("embedding").as("eb"),
        F.col("norm2").as("nb"))
      .join(F.broadcast(cand), Seq("neighbor_id"))
      .join(qf, Seq("query_id"))
      .selectExpr("query_id", "neighbor_id", s"round($pairCos, 6) as sim")
      .withColumn("rnk", F.row_number().over(
        w.orderBy(F.col("sim").desc, F.col("neighbor_id"))).cast("long"))
      .filter(F.col("rnk") <= k)
      .select("query_id", "neighbor_id", "sim", "rnk")
  }

  /** Per-dimension embedding statistics (r7, SURVEY §2.2 row 104):
    * (dim, n, mean, std, mn, mx) with 1-based dims — the
    * normalization/standardization profile a training pipeline
    * derives before whitening or clipping embeddings. ONE
    * zero-shuffle aggregation via the [[graft.functions.DimStats]]
    * vector-buffer Aggregator (partial state = five fixed-width
    * arrays per partition; a posexplode+groupBy formulation would
    * shuffle rows × dim records). Ragged vectors and null rows
    * tolerated — per-dim n says how many vectors covered each
    * dimension. */
  def dimensionStats(emb: DataFrame, col: String = "embedding"): DataFrame =
    emb.agg(graft.functions.DimStats.dimStats(F.col(col)).as("__ds"))
      .select(F.explode(F.col("__ds")).as("d"))
      .select(F.col("d.dim").as("dim"), F.col("d.n").as("n"),
        F.col("d.mean").as("mean"), F.col("d.std").as("std"),
        F.col("d.mn").as("mn"), F.col("d.mx").as("mx"))

  /** Whitening transform (r7b): per-dimension z-score of an embedding
    * column — `w_i = (x_i − mean_i) / std_i` — the normalization pass
    * before cosine/PQ work when dimensions carry wildly different
    * scales (raw activations, concatenated feature blocks).
    *
    * Two passes total at any corpus size: the [[dimensionStats]]
    * zero-shuffle aggregation collapses to ONE broadcast row holding
    * the mean/std arrays, then one codegen-friendly projection maps
    * each vector (a single per-element HOF over a short array — the
    * fine kind). Dimensions with std NULL (n < 2) or 0, and elements
    * past the stats length (ragged inputs), whiten to NULL — loud in
    * the data rather than silently unscaled. Adds `whitened`
    * (array<double>); the input column stays. */
  def whiten(emb: DataFrame, col: String = "embedding"): DataFrame = {
    require(!emb.columns.exists(c => c.equalsIgnoreCase("__wm") ||
      c.equalsIgnoreCase("__ws") || c.equalsIgnoreCase("whitened")),
      "input columns collide with reserved names __wm/__ws/whitened")
    val stats = dimensionStats(emb, col)
      .agg(F.array_sort(F.collect_list(F.struct(
        F.col("dim"), F.col("mean"), F.col("std")))).as("__d"))
      .select(
        F.expr("transform(__d, d -> d.mean)").as("__wm"),
        // DimStats reports NaN std for n = 1 — NaN and exact-zero
        // dispersion both mean "cannot scale": NULL either way
        F.expr("transform(__d, d -> " +
          "nullif(nanvl(d.std, cast(null as double)), 0.0d))").as("__ws"))
    emb.crossJoin(F.broadcast(stats))
      .withColumn("whitened", F.expr(
        s"""transform($col, (x, i) ->
              (cast(x as double) - try_element_at(__wm, i + 1)) /
              try_element_at(__ws, i + 1))"""))
      .drop("__wm", "__ws")
  }
}
