package graft.ops

import scala.reflect.ClassTag
import org.apache.spark.sql.{Column, DataFrame, GraftFn, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.types._

/** Document deduplication operators (SURVEY.md §2.2 rows 37-40).
  *
  * Everything is built from native Spark SQL expressions (codegen'd,
  * no UDFs) and banded LSH joins: candidate generation shuffles on
  * (band, signature) keys — never an O(n²) cross product — which is
  * the only shape that survives 100 TB. md5 is the cross-engine hash
  * (identical in Spark and DuckDB, so the driver's oracle can replay
  * the exact algorithm).
  */
object Dedup {

  /** Minhash permutations. */
  val NumHashes = 8
  /** Rows (signatures) per LSH band: AND within a band, OR across
    * bands — 2 bands × 4 rows. Single-signature bands are far too
    * loose on a small-vocabulary corpus (baseline Jaccard between
    * unrelated docs already collides one hash often): measured at
    * sf0.1, r=1 yields 82,546 candidate pairs vs 251 for r=4, with
    * the same ~246 true near-dup pairs caught. */
  val BandRows = 4
  /** Shingle width in tokens. */
  val ShingleN = 3

  /** Exact duplicate groups: hash-groupBy on the full text. Map-side
    * partial aggregation makes this one shuffle of (hash, id) pairs,
    * not documents. */
  def exactDuplicates(docs: DataFrame): DataFrame =
    docs.groupBy(F.md5(F.col("text")).as("text_hash"))
      .agg(F.min("doc_id").as("keep_id"), F.count(F.lit(1)).as("copies"))
      .filter(F.col("copies") > 1)
      .select("keep_id", "copies")

  /** SQL text of the distinct token-n-gram shingle array — the
    * native graft.functions.WordNgrams one-pass form (r7; the
    * historical `array_distinct(transform(sequence(...)))` paid
    * interpreted HOF dispatch per token and per gram). Consumers that
    * need ROWS must still inline this directly inside `explode(...)`:
    * materializing the array into a named column and exploding it in
    * a separate projection makes Spark's Generate copy the backing
    * array per emitted element — measured 13× slower at sf0.1 (4.4 s
    * vs 0.35 s for the train split's ~630k shingles). */
  private def shingleArraySql(n: Int): String =
    s"graft_word_shingles(lower(text), $n)"

  /** doc_id + distinct token-n-gram shingles (array form — for
    * per-document array consumers like minhash; row consumers use
    * [[withShingleRows]]). */
  def withShingles(docs: DataFrame, n: Int = ShingleN): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.selectExpr("doc_id", s"${shingleArraySql(n)} as shingles")
  }

  /** (doc_id, s): one row per distinct shingle, the explode inlined
    * over the text projection (see [[shingleArraySql]] for why). */
  def withShingleRows(docs: DataFrame, n: Int = ShingleN): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.selectExpr("doc_id", s"explode(${shingleArraySql(n)}) as s")
  }

  /** doc_id + NumHashes minhash signatures h0..h{k-1}. Rather than k
    * md5 calls per shingle, each seeded 128-bit md5 is sliced into
    * four independent 32-bit (8-hex-char) hashes — NumHashes/4 digests
    * per shingle, 4× less hashing on the 100 TB hot path. Signature
    * h_{s*4+j} = lexicographic min over shingles of hex slice j of
    * md5("<s>:" + shingle). */
  def withMinhash(shingled: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    graft.functions.GraftFunctions.register(shingled.sparkSession)
    val unpack = (0 until NumHashes).map(i => s"element_at(__mh, ${i + 1}) as h$i")
    shingled
      .selectExpr(Seq("doc_id") ++ keep ++
        Seq(s"graft_minhash(shingles, ${NumHashes / 4}) as __mh"): _*)
      .selectExpr(Seq("doc_id") ++ keep ++ unpack: _*)
  }

  /** (doc_id, band, h) from a signature table (doc_id, h0..h{k-1}) —
    * one row per band, h = concatenation of the band's BandRows
    * signatures; the LSH shuffle key. */
  private def bandTableFromSignatures(sig: DataFrame): DataFrame = {
    val bands = (0 until NumHashes / BandRows).map { b =>
      val hs = (0 until BandRows).map(r => s"h${b * BandRows + r}").mkString(", ")
      s"concat($hs)"
    }.mkString(", ")
    sig.selectExpr("doc_id", s"posexplode(array($bands)) as (band, h)")
  }

  private def bandTableFrom(shingled: DataFrame): DataFrame =
    bandTableFromSignatures(withMinhash(shingled))

  /** Candidate near-duplicate pairs: documents sharing any band
    * signature. The join shuffles on (band, h) — bucket sizes stay
    * bounded because equal signatures imply near-identical shingle
    * sets. */
  def minhashCandidates(docs: DataFrame): DataFrame =
    minhashCandidatesFrom(withShingles(docs))

  /** Candidate pairs from an existing (possibly persisted) shingle
    * table. */
  def minhashCandidatesFrom(shingled: DataFrame): DataFrame =
    candidatesFromBands(bandTableFrom(shingled))

  /** Candidate pairs from a persisted signature table (see
    * [[writeSignatureTable]]) — no re-shingling, no re-hashing. */
  def minhashCandidatesFromSignatures(sig: DataFrame): DataFrame =
    candidatesFromBands(bandTableFromSignatures(sig))

  /** Per-document band hash COLUMNS `__band0..__band{B-1}` (r8):
    * the column-per-band spelling of the band table, for consumers
    * that must stay one-row-per-doc — the streaming tier-2 near-dup
    * anti-joins each band column against the corpus band table
    * (exploding a stream row would flip the dup test's granularity
    * from ANY-band to per-band). */
  private[graft] def withBandCols(docs: DataFrame,
                                  keep: Seq[String] = Nil): DataFrame = {
    val bandExprs = (0 until NumHashes / BandRows).map { b =>
      val hs = (0 until BandRows).map(r => s"h${b * BandRows + r}")
        .mkString(", ")
      s"concat($hs) as __band$b"
    }
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val shingled = docs.selectExpr(Seq("doc_id") ++ keep ++
      Seq(s"${shingleArraySql(ShingleN)} as shingles"): _*)
    withMinhash(shingled, keep)
      .selectExpr(Seq("doc_id") ++ keep ++ bandExprs: _*)
  }

  /** The distinct band-`b` hashes of a persisted signature table —
    * the static side of one streaming tier-2 anti join. */
  private[graft] def bandHashes(sig: DataFrame, b: Int): DataFrame =
    bandTableFromSignatures(sig)
      .filter(F.col("band") === b)
      .select(F.col("h").as(s"__band$b"))
      .distinct()

  private[graft] def numBands: Int = NumHashes / BandRows

  private def candidatesFromBands(bands: DataFrame): DataFrame =
    // shuffle-hash hint: the band table is narrow (doc_id, band, h)
    // and signature buckets are bounded, so hash-joining beats
    // sort-merge (drops both O(n log n) sorts); at 100 TB the same
    // hint holds as long as one band-bucket side fits a partition,
    // which banding guarantees by construction
    bands.alias("a")
      .join(bands.alias("b").hint("shuffle_hash"),
        F.col("a.band") === F.col("b.band") &&
        F.col("a.h") === F.col("b.h") &&
        F.col("a.doc_id") < F.col("b.doc_id"))
      .select(F.col("a.doc_id").as("id_a"), F.col("b.doc_id").as("id_b"))
      .distinct()

  /** Writes the shingle + minhash signature table ONCE — the one
    * full-corpus text projection in the dedup pipeline — as parquet:
    * (doc_id, shingles, h0..h{k-1}). At 100 TB this is the
    * amortization that matters: candidate generation, jaccard
    * verification, and every future incremental dedup run read this
    * narrow table instead of re-shingling the corpus per job (the
    * inline path recomputes the projection for the band join and both
    * verify sides, which is the right call only within a single job
    * at small scale). */
  def writeSignatureTable(docs: DataFrame, path: String): Unit =
    graft.sources.Sources.writeParquet(
      withMinhash(withShingles(docs), keep = Seq("shingles")), path)

  /** Candidates verified by exact n-gram Jaccard >= threshold, all
    * derived from a persisted signature table: job 2 of the two-job
    * 100 TB workflow (job 1 = [[writeSignatureTable]]). Bit-identical
    * to the inline [[jaccardPairs]] (OpsSpec pins this).
    * `broadcastCandidates` — see [[jaccardPairs]]. */
  def jaccardPairsFromSignatures(sig: DataFrame, threshold: Double,
      broadcastCandidates: Boolean = true): DataFrame =
    verifyCandidates(
      minhashCandidatesFromSignatures(sig),
      sig.select("doc_id", "shingles"), threshold, broadcastCandidates)

  /** Candidates verified by exact n-gram Jaccard >= threshold.
    *
    * The shingle arrays ride along through the band join: both sides
    * of the self-join share one plan, so Spark computes the
    * shingle+minhash projection once and reuses its exchange
    * (ReusedExchange) — one pass over the corpus, one shuffle, with
    * verification inline after the join. */
  def jaccardPairs(docs: DataFrame, threshold: Double,
                   broadcastCandidates: Boolean = true): DataFrame = {
    // The shingle table feeds minhash banding AND both verification
    // sides. Recomputing it (cheap, codegen'd projection) measures
    // faster than persist(): in-memory columnar caching of string
    // arrays costs more to build/read than the projection itself and
    // severs whole-stage codegen. At 100 TB the signature table would
    // be written to storage once and reused across jobs instead.
    val sh = withShingles(docs)
    verifyCandidates(minhashCandidatesFrom(sh), sh, threshold,
      broadcastCandidates)
  }

  /** Exact-jaccard verification of a candidate-pair set against a
    * (doc_id, shingles) table.
    *
    * Join-strategy guard (r6): with `broadcastCands` the candidate
    * set broadcasts — right when candidates are tiny relative to the
    * corpus (the typical LSH outcome; left to stats the planner
    * sometimes broadcasts the shingle-array side, which is the whole
    * corpus). But candidates scale with the TRUE near-dup count: a
    * crawl-heavy 100 TB corpus yields billions of pairs, and a forced
    * broadcast OOMs the driver. Pass `broadcastCands = false` there:
    * the verification falls back to shuffle-hash joins with the
    * narrow pair table as the build side — identical result (OpsSpec
    * pins both paths equal), corpus-sized side streams. */
  private def verifyCandidates(cands0: DataFrame, sh: DataFrame,
                               threshold: Double,
                               broadcastCands: Boolean): DataFrame =
    verifyCandidates2(cands0, sh, sh, threshold, broadcastCands)

  /** Two-table variant: id_a resolves shingles in `shA`, id_b in
    * `shB` — the cross-corpus (train-vs-eval) verification shape. */
  private def verifyCandidates2(cands0: DataFrame, shA: DataFrame,
                                shB: DataFrame, threshold: Double,
                                broadcastCands: Boolean): DataFrame = {
    // the hint re-applies before EACH join: a hint rides the side it
    // is attached to and is consumed by the first join, so without
    // the second application the planner is free to broadcast the
    // corpus-sized shingle side of join 2 (observed under AQE stats)
    def tag(df: DataFrame): DataFrame =
      if (broadcastCands) F.broadcast(df) else df.hint("shuffle_hash")
    val j1 = tag(cands0)
      .join(shA.select(F.col("doc_id"), F.col("shingles").as("sh_a")),
            F.col("id_a") === F.col("doc_id")).drop("doc_id")
    tag(j1)
      .join(shB.select(F.col("doc_id"), F.col("shingles").as("sh_b")),
            F.col("id_b") === F.col("doc_id")).drop("doc_id")
      .selectExpr("id_a", "id_b",
        """size(array_intersect(sh_a, sh_b))
           / size(array_union(sh_a, sh_b)) as jacc""")
      .filter(F.col("jacc") >= threshold)
      .selectExpr("id_a", "id_b", "round(jacc, 4) as jacc")
  }

  /** Connected components over an undirected pair list. Output: (id,
    * label) for every vertex appearing in `pairs`, label = min id of
    * its component in Spark's ordering for the id type. Deterministic.
    * A pair with one NULL endpoint is a self-loop of the other
    * (greatest/least skip NULLs); a (NULL, NULL) pair yields one
    * (NULL, NULL) row.
    *
    * ONE pass over `pairs` (whose lineage may be a whole candidate
    * pipeline) materializes the canonical edge table. Then one of two
    * paths labels it, with the same output and schema:
    *
    *  - driver finish ([[labelOnDriver]]): when the edge table is
    *    broadcast-sized — rows × Spark's estimated row size ≤
    *    `spark.sql.autoBroadcastJoinThreshold`, the bound Spark applies
    *    to tables it collects to the driver — one job collects it and
    *    a union-find labels it. Every Spark round costs an action and
    *    several exchanges whatever the data size, so on small graphs
    *    the rounds were all overhead (q_dedup_groups, by
    *    graft.tools.PlanDump: 4 actions / 17 stages / 11 shuffles →
    *    3 / 8 / 3);
    *  - star contraction ([[starContraction]]): larger edge tables, or
    *    any table under a threshold ≤ 0, iterate in Spark in
    *    O(log² n) rounds.
    *
    * Failure-recovery contract: by default the edge table and each
    * round materialize via eager `localCheckpoint` — blocks live on
    * executors, so losing an executor mid-iteration severs lineage and
    * fails the job (fine at test scale; rerun). At 100 TB pass
    * `checkpointDir` (an HDFS/object-store path): the edge table and
    * every round then write RELIABLE checkpoints there, and executor
    * loss only recomputes lost partitions from the last checkpoint —
    * the durability a multi-hour iteration needs. The driver finish
    * runs no further job after its collect: once labelled, the result
    * lives on the driver. OpsSpec differential-fuzzes both paths (and
    * both checkpoint modes) against a union-find reference and the r12
    * label-propagation loop (kept test-side as `CcReference`) on
    * planted chain / star / random graphs. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50,
                          checkpointDir: Option[String] = None): DataFrame = {
    require(maxIters >= 1, "maxIters must be >= 1")
    // checkpointDir is session-global SparkContext state: set it for
    // the iteration, restore the caller's prior dir after (r6). The
    // returned plan reads only already-materialized tables (edges0 +
    // the final round's edges, or the driver's labels), so restoring
    // on exit is safe.
    val sc = pairs.sparkSession.sparkContext
    val prior = sc.getCheckpointDir
    val ckpt: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        sc.setCheckpointDir(dir)
        df => df.checkpoint(true)
      case None => df => df.localCheckpoint(true)
    }
    try {
      // canonical down-edges (src = greater endpoint), self-loops kept
      // so the vertex set derives from this table without re-scanning
      // the input
      val canon = pairs
        .selectExpr("greatest(id_a, id_b) as src", "least(id_a, id_b) as dst")
        .distinct()
      val edges0 = ckpt(canon)
      if (broadcastSized(canon)) labelOnDriver(edges0)
      else starContraction(edges0, maxIters, ckpt)
    } finally {
      if (checkpointDir.isDefined) prior.foreach(sc.setCheckpointDir)
    }
  }

  /** Whether the materialized edge table fits the broadcast bound
    * ([[Materialize.fitsBroadcast]]). The row count is the
    * `numOutputRows` metric the checkpoint job left on the root
    * operator of `canon`'s plan, so sizing costs no job; a root that
    * keeps no count stays on the loop. */
  private def broadcastSized(canon: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def rows(p: SparkPlan): Option[Long] = p match {
      case a: AdaptiveSparkPlanExec => rows(a.executedPlan)
      case q: QueryStageExec => rows(q.plan)
      case w: WholeStageCodegenExec => rows(w.child)
      case _ => p.metrics.get("numOutputRows").map(_.value)
    }
    // every edge's two endpoints must fit one driver array
    rows(canon.queryExecution.executedPlan).exists(n =>
      n <= Int.MaxValue / 2 && Materialize.fitsBroadcast(canon, n))
  }

  /** Ids the driver finish carries as primitive longs: how to read one
    * from a row, and how to turn it back into the internal value. Each
    * type's internal value is a signed integer whose numeric order is
    * Spark's order for the type. */
  private def longCodec(t: DataType)
      : Option[((InternalRow, Int) => Long, Long => Any)] = t match {
    case ByteType => Some(((r, i) => r.getByte(i).toLong, _.toByte))
    case ShortType => Some(((r, i) => r.getShort(i).toLong, _.toShort))
    case IntegerType | DateType => Some(((r, i) => r.getInt(i).toLong, _.toInt))
    case LongType | TimestampType | TimestampNTZType => Some((_.getLong(_), v => v))
    case _ => None
  }

  /** The driver finish: one job collects the canonical edge table's
    * endpoints, and union-find labels components over vertex indices
    * sorted by Spark's ordering for the id type — so each label is
    * Spark's `min` (UTF-8 byte order for strings, not Scala's UTF-16
    * order). Integral ids travel and sort as primitive long arrays, so
    * driver memory stays a small multiple of the broadcast-sized table.
    * The labels return to executors in slices and become rows there. */
  private def labelOnDriver(edges0: DataFrame): DataFrame = {
    val t = edges0.schema("src").dataType
    longCodec(t) match {
      case Some((read, write)) => labelOnDriver(edges0, read, write, Ordering.Long)
      case None => labelOnDriver[AnyRef](edges0,
        (r, i) => InternalRow.copyValue(r.get(i, t)).asInstanceOf[AnyRef],
        v => v, PhysicalDataType.ordering(t).asInstanceOf[Ordering[AnyRef]])
    }
  }

  private def labelOnDriver[K: ClassTag](edges0: DataFrame,
      read: (InternalRow, Int) => K, write: K => Any,
      ord: Ordering[K]): DataFrame = {
    // per partition: endpoints flattened (src, dst, src, dst, ...), and
    // whether the (NULL, NULL) edge is there
    val parts = edges0.queryExecution.toRdd.mapPartitions { it =>
      val ends = Array.newBuilder[K]
      var nulls = false
      it.foreach { r =>
        if (r.isNullAt(0)) nulls = true
        else { ends += read(r, 0); ends += read(r, 1) }
      }
      Iterator.single((ends.result(), nulls))
    }.collect()
    val ends = Array.concat(parts.map(_._1).toIndexedSeq: _*)
    val hasNull = parts.exists(_._2)
    // vertex keys in Spark's order, deduplicated in place
    val keys = ends.clone()
    (keys: Any) match {
      case a: Array[Long] => java.util.Arrays.sort(a)
      case a: Array[AnyRef @unchecked] =>
        java.util.Arrays.sort(a, ord.asInstanceOf[Ordering[AnyRef]])
    }
    var n = 0
    for (k <- keys) if (n == 0 || !ord.equiv(keys(n - 1), k)) { keys(n) = k; n += 1 }
    val ids = keys.take(n)
    val labels = minRoots(n, ends.map(ids.search(_)(ord).insertionPoint)).map(ids(_))
    // ~64k rows per slice, built on executors
    val spark = edges0.sparkSession
    val sc = spark.sparkContext
    val p = math.max(1, math.min(sc.defaultParallelism, (n + 0xFFFF) >> 16))
    val cut = (0 to p).map(s => (s.toLong * n / p).toInt)
    val rows = sc.parallelize((0 until p).map(s =>
        (ids.slice(cut(s), cut(s + 1)), labels.slice(cut(s), cut(s + 1)))), p)
      .mapPartitionsWithIndex { (s, it) =>
        it.flatMap { case (is, ls) =>
          is.indices.iterator.map(i => InternalRow(write(is(i)), write(ls(i))))
        } ++ (if (hasNull && s == p - 1) Iterator.single(InternalRow(null, null))
              else Iterator.empty)
      }
    val src = edges0.schema("src")
    GraftFn.rowsFrame(spark,
      StructType(Seq("id", "label").map(StructField(_, src.dataType, src.nullable))),
      rows, n + (if (hasNull) 1L else 0L))
  }

  /** Each vertex's component-min index, by union-find over dense
    * indices 0 until n with edges given as consecutive index pairs in
    * `ends`. The larger root always links under the smaller, so
    * parent(v) ≤ v holds throughout and one ascending pass resolves
    * every vertex to its root, the component min. */
  private def minRoots(n: Int, ends: Array[Int]): Array[Int] = {
    val parent = Array.range(0, n)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (i <- ends.indices by 2) {
      val (a, b) = (find(ends(i)), find(ends(i + 1)))
      if (a < b) parent(b) = a else parent(a) = b
    }
    for (v <- 0 until n) parent(v) = parent(parent(v))
    parent
  }

  /** The Spark path: ALTERNATING LARGE-STAR/SMALL-STAR contraction of
    * Kiveris et al. 2014 ("Connected Components in MapReduce and
    * Beyond", SoCC'14), O(log² n) rounds instead of min-label
    * propagation's O(diameter) (r13 — on the sf0.1 semantic-dedup
    * graph the r12 propagation loop paid 21 barrier rounds for a
    * diameter-20 component, ~90% of q_dedup_semantic; a long-chain
    * graph at 100 TB makes diameter-bound rounds the scale-killer).
    * Each round:
    *
    *  - large-star: every node connects its strictly-LARGER neighbors
    *    to the minimum of its neighborhood (incl. itself);
    *  - small-star: every node connects its smaller-or-equal
    *    neighbors, and itself, to their minimum.
    *
    * Both phases are implemented as WINDOW aggregations keyed on the
    * grouping node — never a self-join. That choice dodges the trap
    * the r12 probes measured: a Dataset checkpoint PRESERVES its
    * plan's estimated statistics, and a per-round self-join SQUARES
    * the carried size estimate (BigInteger digit count doubles per
    * round; jstack showed the optimizer in million-digit Toom-Cook
    * multiplication ~12 rounds in). A window propagates the estimate
    * linearly, so any round count stays planner-cheap.
    *
    * Convergence: the edge set is a fixpoint exactly when it is a
    * forest of STARS — depth 1, i.e. no node is both a pointer source
    * and a pointer target — and each component's star is rooted at
    * its minimum vertex (the component min only ever appears as a
    * target: a down-edge out of it would need a smaller endpoint).
    * One cheap semi-join `isEmpty` per round checks depth-1 on the
    * just-checkpointed table. `maxIters` caps the rounds as a safety
    * net against pathological inputs; hitting it means under-merged
    * labels, so it fails loudly. Each round materializes through
    * `ckpt` (see the failure-recovery contract above). */
  private def starContraction(edges0: DataFrame, maxIters: Int,
                              ckpt: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val verts = edges0.selectExpr("src as id")
      .union(edges0.selectExpr("dst as id")).distinct()
    var edges = edges0.filter(F.col("src") =!= F.col("dst"))
    var converged = false
    var round = 0
    while (!converged && round < maxIters) {
      round += 1
      // large-star over the doubled (undirected) view: for grouping
      // node v with neighborhood N, m = min(N ∪ {v}); every edge to
      // a LARGER neighbor u re-points (u → m). Each undirected edge
      // is emitted by exactly its smaller endpoint's group, so the
      // edge count never grows; duplicates are tolerated by the min
      // and collapsed by small-star's final distinct.
      val both = edges.union(
        edges.select(F.col("dst").as("src"), F.col("src").as("dst")))
      val ls = both
        .withColumn("__m",
          F.least(F.col("src"), F.min("dst").over(Window.partitionBy("src"))))
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").as("src"), F.col("__m").as("dst"))
      // small-star: all edges now point down (dst < src). Group by
      // the larger endpoint: m = min of its smaller neighbors; each
      // neighbor re-points (lo → m), the group node itself (hi → m).
      // Exactly one DISTINCT lo per group equals m, so mapping that
      // row to (hi → m) emits the group edge without a join.
      val ss = ls
        .withColumn("__m", F.min("dst").over(Window.partitionBy("src")))
        .select(
          F.when(F.col("dst") === F.col("__m"), F.col("src"))
            .otherwise(F.col("dst")).as("src"),
          F.col("__m").as("dst"))
        .distinct()
      val next = ckpt(ss)
      // fixpoint ⟺ star forest ⟺ no dst is also a src
      converged = next.alias("a")
        .join(next.alias("b"), F.col("a.dst") === F.col("b.src"),
          "left_semi")
        .isEmpty
      edges = next
    }
    // the cap exists to bound pathological inputs, and hitting it
    // means labels are under-merged — the silent-split wrong answer
    // this method exists to prevent, so fail loudly instead
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIters rounds; " +
        "raise maxIters")
    // star edges ARE the labels; roots and isolated vertices (incl.
    // self-loop-only ones) label themselves
    verts.join(
        edges.select(F.col("src").as("id"), F.col("dst").as("__cc_l")),
        Seq("id"), "left_outer")
      .select(F.col("id"),
        F.coalesce(F.col("__cc_l"), F.col("id")).as("label"))
  }

  /** Near-duplicate groups: minhash candidates verified at jaccard >=
    * `threshold`, resolved into clusters (connected components), one
    * row per member of a multi-document group with its group id (min
    * doc_id of the cluster) — the decision table for keep-one-per-
    * cluster dedup. */
  def duplicateGroups(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    connectedComponents(jaccardPairs(docs, threshold).select("id_a", "id_b"))
      .selectExpr("id as doc_id", "label as group_id")

  /** Soft dedup (SURVEY §2.2 row 119, r10): near-duplicates are
    * REWEIGHTED instead of dropped — every document keeps weight
    * 1/|its duplicate group| (singletons 1.0), so one epoch over the
    * weighted corpus sees each distinct content unit with equal total
    * mass while preserving within-group variants (the SoftDeDup
    * reweighting rule; the hard-removal alternative is
    * [[dedupedCorpus]]).
    *
    * Plan shape: the group frame (|near-duplicate docs| rows, tiny vs
    * the corpus) takes one count window on group_id; ONE doc_id join
    * carries (group_id, weight) back to the corpus — broadcastable
    * whenever the duplicate set is, and never wider than row 67's
    * own resolution.
    */
  def softDedupWeights(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    locally {
      val reserved = Seq("group_id", "weight", "__n")
      val clash = docs.columns.filter(c =>
        reserved.exists(_.equalsIgnoreCase(c)))
      require(clash.isEmpty,
        s"input columns [${clash.mkString(", ")}] collide with " +
          s"output/helper names [${reserved.mkString(", ")}]")
    }
    val sized = duplicateGroups(docs, threshold)
      .withColumn("__n",
        F.count(F.lit(1)).over(Window.partitionBy("group_id")))
    docs.join(sized, Seq("doc_id"), "left")
      .select(F.col("doc_id"), F.col("group_id"),
        F.coalesce(F.lit(1.0) / F.col("__n"), F.lit(1.0)).as("weight"))
  }

  /** The corpus with near-duplicates removed: group members other
    * than the representative (min doc_id) are anti-joined away. */
  def dedupedCorpus(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val losers = duplicateGroups(docs, threshold)
      .filter(F.col("doc_id") =!= F.col("group_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** SimHash over token hashes: per-bit majority vote of (+1/-1) in
    * one pass (graft.functions.SimHash native expression) — no
    * shuffle at all. Widths up to 60 bits (the token hash is the
    * first 60 bits of md5). */
  def withSimhash(docs: DataFrame, bits: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.selectExpr("doc_id",
      s"graft_simhash(split(lower(text), ' '), $bits) as simhash")
  }

  /** SimHash width for candidate-pair generation and its banding. */
  val SimhashBits = 60
  val SimhashBands = 4
  private val SimhashBandBits = SimhashBits / SimhashBands // 15

  /** Near-duplicate pairs by 60-bit SimHash with hamming-banded
    * candidate generation: the signature splits into 4 disjoint
    * 15-bit chunks; any pair within hamming distance <= 3 differs in
    * at most 3 chunks, so at least one chunk matches exactly
    * (pigeonhole) — candidates are documents sharing any (band,
    * chunk), verified by exact `bit_count(xor)`. Shuffles only the
    * narrow (doc_id, band, chunk, signature) table on (band, chunk);
    * never all-pairs. Exceeding-hamming candidates are filtered
    * before the distinct. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val mask = (1 << SimhashBandBits) - 1
    val chunks = (0 until SimhashBands)
      .map(b => s"cast(shiftright(simhash, ${b * SimhashBandBits}) & $mask as bigint)")
      .mkString(", ")
    val bands = withSimhash(docs, SimhashBits)
      .selectExpr("doc_id", "simhash",
        s"posexplode(array($chunks)) as (band, chunk)")
    bands.alias("a")
      .join(bands.alias("b"),
        F.col("a.band") === F.col("b.band") &&
        F.col("a.chunk") === F.col("b.chunk") &&
        F.col("a.doc_id") < F.col("b.doc_id"))
      .selectExpr("a.doc_id as id_a", "b.doc_id as id_b",
        "cast(bit_count(a.simhash ^ b.simhash) as bigint) as hamming")
      .filter(F.col("hamming") <= maxHamming)
      .distinct()
  }

  /** Incremental corpus dedup: the steady-state shape of a crawl
    * pipeline, where each new batch dedups first against itself
    * (keep-first by doc_id) and then against the already-ingested
    * corpus. Returns the surviving incoming doc_ids.
    *
    * Two hash-key shuffles plus one anti join on the hash — the
    * documents themselves never shuffle, only (hash, id) pairs. At
    * 100 TB the existing side is the persisted hash column of the
    * corpus table (see [[writeSignatureTable]] for the analogous persisted
    * near-dup form), so each increment costs one scan of the batch
    * plus one hash-bucketed anti join, independent of corpus text
    * size. */
  /** Train/eval contamination check: for each eval document, the
    * fraction of its token-n-gram shingles that appear ANYWHERE in
    * the training corpus — the overlap audit run before an eval set
    * is trusted (a score near 1 means the "held-out" doc leaked into
    * training). Same shingle definition as the near-dup pipeline
    * ([[withShingles]]), so a persisted signature table serves both.
    *
    * Plan shape: the train side collapses to a DISTINCT shingle set
    * (map-side partial dedup), the eval side explodes to (doc_id,
    * shingle), and one equi-join on the shingle key + a doc_id count
    * produces the scores — all narrow key shuffles, nothing
    * quadratic. At 100 TB, hash the shingle strings to 64-bit before
    * the join (graft_minhash's md5 slices work) to cut shuffle bytes;
    * kept as strings here so the oracle replays the join verbatim.
    * Scores are int/int divisions left unrounded (shingle counts can
    * be powers of two — .xx5 rounding boundary). */
  def contaminationScores(train: DataFrame, evalDocs: DataFrame,
                          n: Int = ShingleN): DataFrame = {
    val trainSh = withShingleRows(train, n).select("s").distinct()
    val totals = withShingles(evalDocs, n)
      .selectExpr("doc_id", "cast(size(shingles) as bigint) as n_shingles")
    val hits = withShingleRows(evalDocs, n)
      .join(trainSh, Seq("s"))
      .groupBy("doc_id").agg(F.count(F.lit(1)).as("matched"))
    totals.join(hits, Seq("doc_id"), "left_outer")
      .withColumn("matched", F.coalesce(F.col("matched"), F.lit(0L)))
      .withColumn("contamination",
        F.col("matched").cast("double") / F.col("n_shingles"))
      .select("doc_id", "n_shingles", "matched", "contamination")
  }

  /** Train-set decontamination scoring (SURVEY §2.2, r11c): the
    * REVERSE direction of [[contaminationScores]] — for each TRAINING
    * document, the fraction of its token-n-gram shingles that appear
    * anywhere in the EVAL set, plus the keep verdict at `maxOverlap`
    * (default 0: any shared shingle disqualifies — the GPT-3/PaLM
    * n-gram decontamination convention, which removes train docs
    * colliding with held-out benchmarks BEFORE training rather than
    * merely auditing afterwards). Same shingle definition as the
    * near-dup pipeline, so one persisted signature table serves
    * audit and removal both.
    *
    * Plan shape is [[contaminationScores]] with the roles swapped —
    * the EVAL side (small by construction) collapses to the distinct
    * shingle set, the train side explodes to narrow (doc_id, shingle)
    * rows, one equi-join + doc count. The distinct eval set is
    * typically broadcastable, making this a map-side pass over the
    * training corpus at 100 TB. Documents that produce no shingles
    * (NULL text) are KEPT: zero measurable n-grams cannot collide
    * with the eval set. */
  def decontaminationScores(train: DataFrame, evalDocs: DataFrame,
                            maxOverlap: Double = 0.0,
                            n: Int = ShingleN): DataFrame =
    contaminationScores(evalDocs, train, n)
      .withColumnRenamed("contamination", "overlap")
      .withColumn("keep",
        F.coalesce(F.col("overlap") <= maxOverlap, F.lit(true)))

  /** The training corpus with eval-contaminated documents removed:
    * [[decontaminationScores]]' keep=false rows anti-joined away. */
  def decontaminatedCorpus(train: DataFrame, evalDocs: DataFrame,
                           maxOverlap: Double = 0.0,
                           n: Int = ShingleN): DataFrame = {
    val dropped = decontaminationScores(train, evalDocs, maxOverlap, n)
      .filter(!F.col("keep")).select("doc_id")
    train.join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Fuzzy (near-duplicate) decontamination pairs (SURVEY §2.2,
    * r11c): (train doc, eval doc) pairs whose whole-document Jaccard
    * similarity reaches `threshold` — the NEAR-COPY form of eval
    * leakage (light paraphrase, boilerplate-wrapped copies) that a
    * doc-level similarity test characterizes better than row 131's
    * any-shared-n-gram rule; the two are complementary (131 catches a
    * verbatim quote inside an otherwise-novel doc, this catches a
    * lightly-edited whole copy that shares only low-n-gram mass).
    *
    * Plan shape is the MinHash-LSH pipeline CROSS-CORPUS: band tables
    * from each side, one (band, h) equi-join — never all-pairs; the
    * eval side's band table is tiny (eval sets are small) so the join
    * is broadcast-or-bounded at 100 TB — then exact Jaccard
    * verification of the candidate pairs against the two shingle
    * tables. Banding recall follows the band/row configuration
    * exactly as in row 38 (a below-threshold-similarity copy may
    * escape candidates; both engines replay the identical rule).
    * Ids must be distinct across the two inputs. Returns
    * (id_a = train, id_b = eval, jacc). */
  def fuzzyDecontaminationPairs(train: DataFrame, evalDocs: DataFrame,
                                threshold: Double = 0.5,
                                n: Int = ShingleN): DataFrame = {
    val shT = withShingles(train, n)
    val shE = withShingles(evalDocs, n)
    val cands = bandTableFrom(shT).alias("a")
      .join(bandTableFrom(shE).alias("b").hint("shuffle_hash"),
        F.col("a.band") === F.col("b.band") && F.col("a.h") === F.col("b.h"))
      .select(F.col("a.doc_id").as("id_a"), F.col("b.doc_id").as("id_b"))
      .distinct()
    verifyCandidates2(cands, shT, shE, threshold, broadcastCands = true)
  }

  /** The training corpus with near-copies of eval documents removed:
    * any train doc appearing in [[fuzzyDecontaminationPairs]] is
    * anti-joined away. */
  def fuzzyDecontaminatedCorpus(train: DataFrame, evalDocs: DataFrame,
                                threshold: Double = 0.5,
                                n: Int = ShingleN): DataFrame = {
    val dropped = fuzzyDecontaminationPairs(train, evalDocs, threshold, n)
      .select(F.col("id_a").as("doc_id")).distinct()
    train.join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Bottom-k (KMV) sketch of a corpus's distinct shingle hashes: the
    * k lexicographically smallest md5(shingle) values — a fixed-size
    * corpus summary whose sketches UNION (bottom-k of merged sketches
    * = sketch of merged corpora), so per-source sketches computed once
    * serve every later pairwise comparison. Plan shape: map-side
    * partial dedup of hash strings, one hash shuffle (32-byte strings,
    * never documents), then heap top-k (TakeOrderedAndProject — k rows
    * per partition to the driver, no global sort). */
  def shingleSketch(docs: DataFrame, k: Int, n: Int = ShingleN): DataFrame = {
    // bounded bottom-k-distinct aggregate (r7): the former
    // distinct().orderBy.limit shuffled EVERY distinct shingle hash
    // before TakeOrdered; the BottomKDistinct buffer caps per-
    // partition state at k, so the exchange carries ≤k strings per
    // partition at any corpus size. NULL hashes (sub-n-token
    // documents shingle to [null] → md5 = NULL) are EXCLUDED from
    // the sketch — the old orderBy path's asc_nulls_first would have
    // admitted one NULL into the k-set; a sketch of the distinct
    // NON-NULL hash set is the intended KMV semantics (a NULL carries
    // no set element), made explicit by the filter below.
    graft.functions.GraftFunctions.register(docs.sparkSession)
    withShingleRows(docs, n)
      .select(F.md5(F.col("s")).as("h"))
      .filter(F.col("h").isNotNull)
      .agg(F.expr(s"graft_bottom_k(h, $k)").as("__hs"))
      .select(F.explode(F.col("__hs")).as("h"))
  }

  /** Corpus-pair overlap WITHOUT a corpus-sized join (r5c): the
    * bottom-k estimate of the shingle-set Jaccard similarity between
    * two corpora — the "how much of crawl B is already in crawl A"
    * number that decides whether a new dump is worth ingesting,
    * at the cost of two fixed-size sketches instead of the
    * contamination check's full shingle join. Estimator: with
    * S = bottom-k of (A ∪ B) (computed from the two sketches — union
    * property above), J ≈ |S ∩ sketch(A) ∩ sketch(B)| / |S|; standard
    * KMV, error O(1/√k). Everything after the two sketch passes
    * touches ≤ 2k rows. Deterministic — same md5 order on any engine,
    * so the oracle replays the exact estimate, not a tolerance. */
  def corpusOverlap(a: DataFrame, b: DataFrame, k: Int,
                    n: Int = ShingleN): DataFrame = {
    val marked = shingleSketch(a, k, n).select(
        F.col("h"), F.lit(1).as("in_a"), F.lit(0).as("in_b"))
      .unionByName(shingleSketch(b, k, n).select(
        F.col("h"), F.lit(0).as("in_a"), F.lit(1).as("in_b")))
    marked.groupBy("h")
      .agg(F.max("in_a").as("in_a"), F.max("in_b").as("in_b"))
      .orderBy("h").limit(k)
      .agg(F.count(F.lit(1)).as("k_union"),
        F.sum(F.when(F.col("in_a") === 1 && F.col("in_b") === 1, 1L)
          .otherwise(0L)).as("n_both"))
      .select(F.col("k_union"), F.col("n_both"),
        F.round(F.col("n_both").cast("double") / F.col("k_union"), 4)
          .as("jaccard_est"))
  }

  def incrementalDedup(incoming: DataFrame, existing: DataFrame): DataFrame = {
    // null text is a degenerate document, not a duplicate class: SQL
    // equality semantics (null matches nothing, not even other nulls)
    // — such rows pass through untouched rather than collapsing into
    // one md5(NULL) group
    val keepFirst = incoming.filter(F.col("text").isNotNull)
      .groupBy(F.md5(F.col("text")).as("text_hash"))
      .agg(F.min("doc_id").as("doc_id"))
    val seen = existing.filter(F.col("text").isNotNull)
      .select(F.md5(F.col("text")).as("text_hash")).distinct()
    keepFirst.join(seen, Seq("text_hash"), "left_anti").select("doc_id")
      .union(incoming.filter(F.col("text").isNull).select("doc_id"))
  }

  /** Bloom-prefiltered incremental dedup (r5): same contract and same
    * RESULT as [[incrementalDedup]] — keep-first within the batch,
    * drop texts already in the corpus — but the corpus side collapses
    * to a broadcast Bloom filter, so the anti-join's corpus-sized
    * shuffle disappears for the (typical) mostly-new batch:
    *
    *  1. ONE pass over the corpus builds an m-bit filter whose
    *     per-partition state is fixed-size and merges with bitwise OR
    *     (no corpus shuffle at all — the aggregation is a single
    *     global combine of m/8-byte partials).
    *  2. The batch probes the broadcast filter in whole-stage codegen.
    *     Definite-NOs (no false negatives) pass straight through —
    *     zero shuffle for them.
    *  3. Only MAYBE rows — true duplicates plus the small
    *     false-positive slice — exact-verify through the anti-join,
    *     so the result is exactly [[incrementalDedup]]'s.
    *
    * At 100 TB: the corpus never re-shuffles (the filter can also be
    * built once and persisted), and per-batch shuffle volume drops
    * from |corpus| + |batch| keys to ~|duplicates| + fp-rate·|batch|.
    * Size `bits` for the corpus cardinality (default 2^24 bits = 2 MiB
    * broadcast, ~0.3% fp at 1M corpus keys with k=5). */
  def bloomIncrementalDedup(incoming: DataFrame, existing: DataFrame,
                            bits: Int = 1 << 24, k: Int = 5): DataFrame = {
    import graft.functions.BloomUtil
    require(bits > 0 && k > 0, "bits and k must be positive")
    // broadcast-sizing guard (r6): a useful filter for 10⁹+ corpus
    // keys is multi-GB — past executor broadcast comfort. The result
    // is SAFE at any sizing (an undersized filter just verifies more
    // maybes through the exact anti-join), so an oversized request is
    // a cost cliff, not a correctness cliff: cap hard at 2^30 bits
    // (128 MiB) and warn from 2^28 (32 MiB). Beyond that, partition
    // the KEY SPACE instead — shard both sides on hash(key) % s and
    // run this per shard, each with its own 2^28-bit filter.
    require(bits <= (1 << 30),
      s"bloom filter of $bits bits exceeds the 2^30 broadcast cap; " +
        "shard the key space and run per shard instead")
    if (bits > (1 << 28))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"bloomIncrementalDedup: $bits-bit filter broadcasts " +
          s"${bits / 8 / 1024 / 1024} MiB to every executor; consider " +
          "sharding the key space")
    // 60-bit md5 prefix as the probe hash — same hash family as the
    // exact path's md5 key, so fp-verification reuses text_hash
    def h60(c: Column): Column =
      F.conv(F.md5(c).substr(1, 15), 16, 10).cast("long")
    val keepFirst = incoming.filter(F.col("text").isNotNull)
      .groupBy(F.md5(F.col("text")).as("text_hash"))
      .agg(F.min("doc_id").as("doc_id"))
      .withColumn("h", F.conv(F.col("text_hash").substr(1, 15), 16, 10)
        .cast("long"))
    val corpusClean = existing.filter(F.col("text").isNotNull)
    val bloom = corpusClean.agg(
      BloomUtil.build(h60(F.col("text")), bits, k).as("bf"))
    graft.functions.GraftFunctions.register(incoming.sparkSession)
    val probed = keepFirst
      .crossJoin(F.broadcast(bloom))
      .withColumn("maybe", F.expr(s"graft_bloom_contains(bf, h, $k)"))
    val definiteNew = probed.filter(!F.col("maybe")).select("doc_id")
    val seen = corpusClean.select(F.md5(F.col("text")).as("text_hash"))
      .distinct()
    val verifiedNew = probed.filter(F.col("maybe"))
      .select("text_hash", "doc_id")
      .join(seen, Seq("text_hash"), "left_anti").select("doc_id")
    definiteNew.union(verifiedNew)
      .union(incoming.filter(F.col("text").isNull).select("doc_id"))
  }

  /** Cross-document duplicate-SPAN statistics (r5b): for every
    * document, how many of its n-token spans (stride 1) also occur
    * earlier in the corpus — the practical approximation of exact-
    * substring dedup (Lee et al.'s suffix-array pass) for boilerplate
    * and cross-document contamination measurement. "Earlier" is the
    * global (doc_id, pos) order, so exactly one occurrence of every
    * distinct span is original and the result is deterministic.
    *
    * Plan shape: one Generate emitting (doc_id, pos, md5(span)) —
    * the span text re-derived inside codegen from the token array,
    * never a materialized span column — then ONE row_number window
    * on the span hash (first occurrence wins) and ONE per-document
    * aggregation. Only (hash, doc, pos) triples shuffle, never text.
    * At 100 TB stride-1 span volume ≈ token volume × 1: the narrow
    * triple shuffle is the cost of exactness; raise the stride or
    * pre-filter with a Bloom pass when approximate coverage is
    * enough. */
  /** Edit-distance self-join (r7b): every pair of rows whose strings
    * are within `maxDist` Levenshtein edits — the typo-level fuzzy
    * dedup for SHORT strings (titles, names, URLs, product codes)
    * that the shingle/minhash family cannot see (a 1-char edit barely
    * moves Jaccard on 18-char strings). Output (id1, id2, dist) with
    * id1 < id2.
    *
    * Scale shape (r8): a TWO-TIER hybrid, never the naive O(n²)
    * cross join.
    *
    * Tier 1 — FastSS deletion neighborhoods (Bocek et al. 2007) for
    * strings of length ≤ `fastssMaxLen` and k ≤ 3: each row emits
    * its DISTINCT ≤k-deletion byte strings (native
    * graft_del_neighborhood, C(len,k) keys per row); two strings
    * within k edits always share a member (delete each side's edited
    * positions), so a self-equi-join on the exploded keys is a
    * complete candidate filter. Keys are near-full strings, so
    * constant prefixes/chunks shared by the whole corpus never
    * collide — the failure mode that caps chunk blocking: the
    * aligned-prefix bench fixture measured 2.25M PassJoin candidates
    * (every row shares two of its three chunks) vs 0.49M FastSS
    * distinct pairs, 2.9 → 1.7 s end-to-end at sf0.1. Pair
    * multiplicity is high (shared keys per true pair ~ C(len,k)
    * alignments), so this tier DEDUPES the narrow (id1, id2) pairs
    * BEFORE re-attaching strings and verifying — the opposite of
    * tier 2's verify-first rule, each justified by its own
    * multiplicity bound.
    *
    * Tier 2 — PassJoin chunk blocking with the published
    * multi-match-aware substring selection (Li/Deng/Feng VLDB'11 §4)
    * for longer strings, where C(len,k) key emission would dominate:
    * split each string into k+1 even chunks — if ed(a,b) ≤ k some
    * chunk of `a` occurs VERBATIM in `b` inside a position window
    * around its own start; the probe side emits its chunks keyed
    * (content, |a|, m), the index side only the windowed substrings
    * per partner length and chunk index, and candidates verify
    * BEFORE the pair dedup (multiplicity ≤ k+2; measured 8.5 → ~3 s
    * vs distinct-first on the wide stream).
    *
    * The tiers overlap on lengths (fastssMaxLen−k, fastssMaxLen] so
    * cross-tier pairs are found by tier 2 (both sides of such a pair
    * exceed fastssMaxLen−k by the length bound); the final distinct
    * merges double-covered pairs. Verification is the native banded
    * levenshtein (2k+1 byte diagonal, early exit; measured faster than
    * Spark's thresholded `levenshtein`, see [[graft.functions.BandedLevenshtein]]).
    * Long-text near-dup belongs to the shingle family. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int = 2, fastssMaxLen: Int = 24): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val k = maxDist
    val base = df.filter(F.col(strCol).isNotNull)
      .selectExpr(s"$idCol as __id", s"cast($strCol as string) as __s")
    def verify(cands: DataFrame): DataFrame = cands
      .withColumn("__d", F.expr(s"graft_edit_distance(__s_a, __s_b, $k)"))
      .filter(F.col("__d") >= 0)
      .select(F.col("__id_a").as("id1"), F.col("__id_b").as("id2"),
        F.col("__d").as("dist"))
    val useFastss = k <= 3
    val fastssLeg: Option[DataFrame] =
      if (!useFastss) None
      else {
        val pairs = fastssPairs(
          base.filter(F.length(F.col("__s")) <= fastssMaxLen), k)
        // re-attach the strings by id (two narrow key joins — the
        // planner broadcasts a small id side on its own)
        val sa = base.select(F.col("__id").as("id1"), F.col("__s").as("__s_a"))
        val sb = base.select(F.col("__id").as("id2"), F.col("__s").as("__s_b"))
        Some(verify(pairs.join(sa, Seq("id1")).join(sb, Seq("id2"))
          .select(F.col("id1").as("__id_a"), F.col("id2").as("__id_b"),
            F.col("__s_a"), F.col("__s_b"))))
      }
    val longBase =
      if (useFastss) base.filter(F.length(F.col("__s")) > fastssMaxLen - k)
      else base
    val passJoinLeg = verify(editCandidatesOf(longBase, k))
    fastssLeg.fold(passJoinLeg)(_ unionByName passJoinLeg).distinct()
  }

  /** Tier-1 DISTINCT candidate id pairs: rows sharing a ≤k-deletion
    * neighborhood member, id1 < id2 — exposed so specs pin the
    * blocking selectivity. Input must carry (__id, __s). */
  private[graft] def fastssPairs(base: DataFrame, k: Int): DataFrame = {
    // the neighborhood array is generated INLINE in the explode (the
    // Generate-copy rule)
    val keys = base.selectExpr("__id",
      s"explode(graft_del_neighborhood(__s, $k)) as __key")
    keys.select(F.col("__id").as("id1"), F.col("__key"))
      .join(keys.select(F.col("__id").as("id2"), F.col("__key")), Seq("__key"))
      .filter(F.col("id1") < F.col("id2"))
      .select("id1", "id2")
      .distinct()
  }

  /** The unverified PassJoin candidate stream (id/string pairs that
    * share a windowed chunk key) — exposed so specs pin the blocking
    * selectivity independently of the verify step. */
  private[graft] def editCandidates(df: DataFrame, idCol: String,
                                    strCol: String, k: Int): DataFrame =
    editCandidatesOf(
      df.filter(F.col(strCol).isNotNull)
        .selectExpr(s"$idCol as __id", s"cast($strCol as string) as __s"), k)

  /** Tier-2 PassJoin candidates over a prepared (__id, __s) frame. */
  private def editCandidatesOf(base: DataFrame, k: Int): DataFrame = {
    val p = k + 1
    def side(idAs: String, sAs: String, keys: String): DataFrame =
      base.select(F.col("__id").as(idAs), F.col("__s").as(sAs))
        .select(F.col(idAs), F.col(sAs), F.expr(s"inline($keys)"))
    // probe side: the k+1 PassJoin chunks (even split, remainder on
    // the last chunks) keyed (content, own length, chunk index);
    // empties filtered (len ≤ k rides the short bucket)
    val chunks =
      s"""concat(
            filter(transform(sequence(0, $k), i -> struct(
              substring(__s_a,
                1 + i * (length(__s_a) div $p) +
                  greatest(0, i - ($p - length(__s_a) % $p)),
                (length(__s_a) div $p) +
                  (case when i >= $p - length(__s_a) % $p
                        then 1 else 0 end)) as c,
              cast(length(__s_a) as bigint) as la,
              cast(i + 1 as bigint) as m)), x -> x.c != ''),
            case when length(__s_a) <= ${2 * k}
                 then array(struct('short' as c, 0L as la, 0L as m))
                 else array() end)"""
    // index side: for each candidate partner length la (within ±k)
    // and chunk index m, ONLY the substrings of chunk-m length
    // starting inside the multi-match-aware window above
    val liE = s"((la div $p) + (case when m >= $p - (la % $p) + 1 then 1 else 0 end))"
    val pmE = s"(1 + (m - 1) * (la div $p) + greatest(0, (m - 1) - ($p - la % $p)))"
    val dE  = s"(length(__s_b) - la)"
    val loE = s"greatest(1, $pmE - (m - 1), $pmE + $dE - ($k + 1 - m))"
    val hiE = s"least(length(__s_b) - $liE + 1, $pmE + (m - 1), $pmE + $dE + ($k + 1 - m))"
    val subs =
      s"""concat(
            array_distinct(flatten(transform(
              sequence(greatest($p, length(__s_b) - $k), length(__s_b) + $k),
              la -> flatten(transform(sequence(1, $p), m ->
                if(($loE) <= ($hiE),
                   transform(sequence($loE, $hiE), q ->
                     struct(substring(__s_b, q, $liE) as c,
                            cast(la as bigint) as la,
                            cast(m as bigint) as m)),
                   array())))))),
            case when length(__s_b) <= ${2 * k}
                 then array(struct('short' as c, 0L as la, 0L as m))
                 else array() end)"""
    val a = side("__id_a", "__s_a", chunks)
    val b = side("__id_b", "__s_b", subs)
    a.join(b,
      a("c") === b("c") && a("la") === b("la") && a("m") === b("m") &&
        F.col("__id_a") < F.col("__id_b"))
  }

  def duplicateSpanStats(docs: DataFrame, n: Int = 20): DataFrame = {
    require(n >= 2, "span length must be at least 2 tokens")
    // native one-pass span stream (WordNgrams, inlined in the
    // generator); posexplode is 0-based where the old sequence(1,..)
    // positions were 1-based
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // Skew-safe first-occurrence ranking (r11): a span hash with 10^5
    // occurrences (viral boilerplate — exactly this operator's
    // target) previously concentrated its whole occurrence list in
    // ONE window task. Two-phase `min(struct(doc_id, pos))` collapses
    // hot hashes to one partial row per map task BEFORE the exchange,
    // and the unique-keyed join back lets AQE split a skewed probe
    // side — the r6 vocabularyStats remedy, results identical ((doc_
    // id, pos) pairs are unique, so "not the minimum" = "not first").
    // r13 probe, for the record: Materialize(spans) — replacing this
    // op's documented second span-stream derivation with checkpoint
    // block reads — measured WORSE (0.93→1.23 s matched-mode): the
    // barrier + corpus-sized block write costs more than one extra
    // codegen tokenize+md5 pass. Same lesson as r12's bigram-LM
    // revert; the two-pass shape stays.
    val spans = docs
      .select(F.col("doc_id"),
        F.posexplode(F.expr(s"graft_word_ngrams(lower(text), $n)"))
          .as(Seq("__p0", "__g")))
      .select(F.col("doc_id"), (F.col("__p0") + 1).as("pos"),
        F.md5(F.col("__g")).as("h"))
    val firsts = spans.groupBy("h")
      .agg(F.min(F.struct(F.col("doc_id"), F.col("pos"))).as("__mn"),
        F.count(F.lit(1)).as("__c"))
      .where(F.col("__c") > 1)
      .select("h", "__mn")
    spans.join(firsts, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(F.count(F.lit(1)).as("n_spans"),
        F.sum(F.when(F.col("__mn").isNotNull &&
            F.struct(F.col("doc_id"), F.col("pos")) =!= F.col("__mn"),
            1L).otherwise(0L)).as("n_dup"))
  }

  /** Cross-document exact-substring REMOVAL (SURVEY §2.2 row 118,
    * r10) — the rewrite companion to [[duplicateSpanStats]]: the
    * ExactSubstr pass of Lee et al. 2021 ("Deduplicating Training
    * Data Makes Language Models Better"), token-granular. Every
    * stride-1 `n`-token span whose identical (lowercased) text
    * occurred EARLIER in the corpus — global (doc_id, pos) order, so
    * exactly one original occurrence per distinct span survives —
    * marks its n token positions for removal; each document is
    * rewritten with covered tokens dropped (first occurrences and
    * sub-n-token tails stay).
    *
    * Plan shape: the same narrow (doc_id, pos, md5) span triples as
    * [[duplicateSpanStats]] (never text); first occurrences resolve
    * through a TWO-PHASE `min(struct(doc_id, pos))` per span hash —
    * map-side partials collapse a 10^5-occurrence boilerplate span
    * before any exchange, where the previous single-key row_number
    * window put all of them in one task — and a unique-keyed,
    * AQE-skew-splittable join marks strictly-later occurrences (the
    * r6 vocabularyStats remedy; hashes occurring once never reach
    * the join's build side). The span stream is derived TWICE (once
    * for the min table, once as the join probe) — deliberate: the
    * triples are ~50 B × one row per corpus token, far too large to
    * persist at 100 TB, and the re-derivation is an embarrassingly
    * parallel scan+project with no shuffle, the cheap side of the
    * trade against the removed single-task bound. The duplicate
    * starts fold into ONE sorted int array per affected doc and ONE
    * doc_id join carries it back to the corpus; the rewrite is the
    * native one-pass [[graft.functions.StripSpans]] projection (r13 —
    * previously an interpreted per-token × per-interval HOF filter
    * over merged coverage intervals). Documents with no duplicated
    * span never reach the join's build side.
    *
    * Returns (doc_id, text, n_removed). NULL text stays NULL;
    * documents shorter than n tokens pass through unchanged.
    */
  /** Paragraph-level corpus dedup (SURVEY §2.2 row 124, r11b) — the
    * CCNet/RefinedWeb line-dedup pass: split each document on `sep`,
    * hash the NORMALIZED paragraph (lowercased, trimmed), and drop
    * every paragraph whose normalized text occurred EARLIER in the
    * corpus (global (doc_id, idx) order ⟹ exactly one surviving
    * occurrence per distinct paragraph, deterministic). Paragraphs
    * whose normalized form is shorter than `minChars` never
    * participate — they are structure (blank lines, bullets), not
    * content, and always survive.
    *
    * Plan shape (the row-118 conventions): narrow (doc_id, idx, md5)
    * triples shuffle — paragraph TEXT never does; first occurrences
    * via the skew-safe two-phase `min(struct(doc_id, idx))` per hash
    * (a boilerplate paragraph repeated 10^6 times collapses to one
    * partial row per map task before any exchange — the r11 hot-span
    * remedy); dropped indexes fold to ONE sorted int array per
    * affected doc, one doc_id join carries them back, and the
    * rewrite is a codegen positional filter over the re-split text.
    * Untouched documents (and NULL text) pass through byte-for-byte
    * and never reach the join's build side.
    *
    * Returns (doc_id, text, n_removed). */
  def dedupParagraphs(docs: DataFrame, sep: String = "\n",
                      minChars: Int = 1): DataFrame = {
    require(sep.nonEmpty, "separator must be non-empty")
    locally {
      val reserved = Seq("__p0", "__para", "__idx", "__nrm", "__h",
        "__mn", "__c", "__drops")
      val clash = docs.columns.filter(c =>
        reserved.exists(_.equalsIgnoreCase(c)))
      require(clash.isEmpty,
        s"input columns [${clash.mkString(", ")}] collide with reserved " +
          s"internal helper names [${reserved.mkString(", ")}]")
    }
    // F.split takes a REGEX — quote the literal separator
    val sepRe = java.util.regex.Pattern.quote(sep)
    val paras = docs
      .select(F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), sepRe))
          .as(Seq("__p0", "__para")))
      .select(F.col("doc_id"), (F.col("__p0") + 1).as("__idx"),
        F.lower(F.trim(F.col("__para"))).as("__nrm"))
      .where(F.length(F.col("__nrm")) >= minChars)
      .select(F.col("doc_id"), F.col("__idx"),
        F.md5(F.col("__nrm")).as("__h"))
    val firsts = paras.groupBy("__h")
      .agg(F.min(F.struct(F.col("doc_id"), F.col("__idx"))).as("__mn"),
        F.count(F.lit(1)).as("__c"))
      .where(F.col("__c") > 1)
      .select("__h", "__mn")
    val drops = paras.join(firsts, Seq("__h"))
      .where(F.struct(F.col("doc_id"), F.col("__idx")) =!= F.col("__mn"))
      .groupBy("doc_id")
      .agg(F.sort_array(F.collect_list("__idx")).as("__drops"))
    docs.join(drops, Seq("doc_id"), "left")
      .select(F.col("doc_id"),
        F.when(F.col("text").isNull, F.lit(null))
          .when(F.col("__drops").isNull, F.col("text"))
          .otherwise(F.array_join(
            F.filter(F.split(F.col("text"), sepRe),
              (_: Column, i: Column) =>
                !F.array_contains(F.col("__drops"), i + F.lit(1))),
            sep)).as("text"),
        F.coalesce(F.size(F.col("__drops")), F.lit(0))
          .cast("long").as("n_removed"))
  }

  def removeDuplicateSpans(docs: DataFrame, n: Int = 20): DataFrame = {
    require(n >= 2, "span length must be at least 2 tokens")
    locally {
      val reserved = Seq("__p0", "__g", "__pos", "__h", "__mn", "__c",
        "__starts", "__r")
      val clash = docs.columns.filter(c =>
        reserved.exists(_.equalsIgnoreCase(c)))
      require(clash.isEmpty,
        s"input columns [${clash.mkString(", ")}] collide with reserved " +
          s"internal helper names [${reserved.mkString(", ")}]")
    }
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val spans = docs
      .select(F.col("doc_id"),
        F.posexplode(F.expr(s"graft_word_ngrams(lower(text), $n)"))
          .as(Seq("__p0", "__g")))
      .select(F.col("doc_id"), (F.col("__p0") + 1).as("__pos"),
        F.md5(F.col("__g")).as("__h"))
    val firsts = spans.groupBy("__h")
      .agg(F.min(F.struct(F.col("doc_id"), F.col("__pos"))).as("__mn"),
        F.count(F.lit(1)).as("__c"))
      .where(F.col("__c") > 1)
      .select("__h", "__mn")
    val dupStarts = spans.join(firsts, Seq("__h"))
      .where(F.struct(F.col("doc_id"), F.col("__pos")) =!= F.col("__mn"))
      .groupBy("doc_id")
      .agg(F.sort_array(F.collect_list("__pos")).as("__starts"))
    // r13 (guide §4): the rewrite is the native graft_strip_spans —
    // one byte pass with a sorted-pointer coverage test — replacing
    // the interpreted per-token × per-interval HOF filter plus the
    // two interval folds (struct build + merge aggregate) it fed.
    // n_removed (covered-ordinal count) equals the old merged-
    // interval mass Σ(hi−lo+1) because every start comes from an
    // n-gram of this document (every covered ordinal ≤ token count);
    // OpsSpec pins the equivalence on overlap/adjacent/null edges.
    // Untouched documents (NULL __starts) and NULL text pass through
    // BYTE-FOR-BYTE in the when-guard — the rewrite would silently
    // normalize their whitespace otherwise — and skip the token scan.
    docs.join(dupStarts, Seq("doc_id"), "left")
      .withColumn("__r",
        F.when(F.col("text").isNull || F.col("__starts").isNull,
          F.struct(F.col("text").as("text"), F.lit(0L).as("n_removed")))
        .otherwise(F.expr(s"graft_strip_spans(text, __starts, $n)")))
      .select(F.col("doc_id"),
        F.col("__r.text").as("text"),
        F.col("__r.n_removed").as("n_removed"))
  }
}
