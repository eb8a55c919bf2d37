package graft.ops

import graft.{SparkTestBase, TestSpark}
import org.apache.spark.sql.{DataFrame, functions => F}

/** Specs for the pipeline operators (SURVEY.md §2.2). */
class OpsSpec extends SparkTestBase {

  private def documents: DataFrame =
    spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
  private def embeddings: DataFrame =
    spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")

  test("exact dedup finds planted duplicates") {
    // the corpus has no byte-identical texts; plant some
    val withDups = documents.limit(50)
      .union(documents.limit(5).selectExpr("doc_id + 1000 as doc_id",
        "text", "lang", "source", "n_chars"))
    val dups = Dedup.exactDuplicates(withDups).collect()
    assert(dups.length == 5)
    assert(dups.forall(_.getLong(1) == 2))
  }

  test("minhash candidates contain all high-jaccard pairs") {
    val cands = Dedup.minhashCandidates(documents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.nonEmpty)
    // every verified pair at jaccard>=0.5 must be a candidate
    val verified = Dedup.jaccardPairs(documents, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.nonEmpty)
    assert(verified.subsetOf(cands))
  }

  test("jaccard verification filters low-similarity candidates") {
    val all = Dedup.jaccardPairs(documents, 0.0).count()
    val strict = Dedup.jaccardPairs(documents, 0.9).count()
    assert(strict < all)
    Dedup.jaccardPairs(documents, 0.9).collect()
      .foreach(r => assert(r.getDouble(2) >= 0.9))
  }

  test("jaccard shuffle-join candidate path equals the broadcast path (r6)") {
    // the 100 TB cost-cliff guard: with broadcastCandidates=false the
    // verification must produce the identical pair set through
    // shuffle-hash joins, and its physical plan must contain NO
    // broadcast of the candidate set
    def pairs(df: DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Dedup.jaccardPairs(documents, 0.5)
    val s = Dedup.jaccardPairs(documents, 0.5, broadcastCandidates = false)
    assert(pairs(b) == pairs(s))
    assert(pairs(b).nonEmpty)
    val plan = s.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      "shuffle path must not broadcast any side of the verification join")
    // same contract from a persisted signature table
    val dir = java.nio.file.Files.createTempDirectory("graft_sig_r6").toString
    Dedup.writeSignatureTable(documents, dir)
    val sig = spark.read.parquet(dir)
    assert(pairs(Dedup.jaccardPairsFromSignatures(sig, 0.5)) ==
      pairs(Dedup.jaccardPairsFromSignatures(sig, 0.5,
        broadcastCandidates = false)))
  }

  test("bloom dedup rejects an over-cap filter size loudly (r6)") {
    val ex = intercept[IllegalArgumentException] {
      Dedup.bloomIncrementalDedup(documents.limit(1), documents.limit(1),
        bits = Int.MaxValue)
    }
    assert(ex.getMessage.contains("2^30"))
  }

  test("simhash of identical docs is identical, near-dups are close") {
    val sims = Dedup.withSimhash(documents).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a verified near-dup pair should have small hamming distance
    val pair = Dedup.jaccardPairs(documents, 0.9).collect().head
    val ham = java.lang.Long.bitCount(sims(pair.getLong(0)) ^ sims(pair.getLong(1)))
    assert(ham <= 4, s"hamming $ham too large for jaccard ${pair.getDouble(2)}")
  }

  test("brute-force topk is sorted and complete") {
    val rows = Similarity.bruteForceTopK(embeddings, "vec_id < 3", 5).collect()
    assert(rows.length == 15) // 3 queries x 5 neighbors
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val sims = g.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(sims.sameElements(sims.sortBy(-(_: Double))))
    }
  }

  test("lsh topk neighbors are a subset of brute-force candidates' bucket") {
    val lsh = Similarity.lshTopK(embeddings, "vec_id < 10", 3).collect()
    assert(lsh.nonEmpty)
    // lsh sims can never exceed the brute-force best
    val brute = Similarity.bruteForceTopK(embeddings, "vec_id < 10", 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    lsh.foreach(r => assert(r.getDouble(2) <= brute(r.getLong(0)) + 1e-9))
  }

  test("langid produces deterministic argmax") {
    val out = TextAnalysis.langId(documents).collect()
    assert(out.length == documents.count())
    out.foreach { r =>
      val scores = Map("en" -> r.getDouble(1), "es" -> r.getDouble(2),
        "fr" -> r.getDouble(3), "de" -> r.getDouble(4))
      assert(scores(r.getString(5)) == scores.values.max)
    }
  }

  test("token counts match whitespace structure") {
    val r = TextAnalysis.tokenCounts(documents.limit(10)).collect()
    r.foreach(row => assert(row.getLong(1) > 0 && row.getLong(2) >= row.getLong(1)))
  }

  test("multimodal mapPartitions decode matches SQL metadata features") {
    assertSameRows(Multimodal.decodeFeatures(documents, batchSize = 7),
                   Multimodal.metaFeatures(documents))
  }

  test("multimodal resize truncates or pads payloads to target size") {
    val out = Multimodal.resize(documents.limit(20), targetBytes = 100)
    out.collect().foreach(r =>
      assert(r.getAs[Array[Byte]]("payload").length == 100))
  }

  test("frame sampling emits stride-spaced offsets") {
    val frames = Multimodal.sampleFrames(documents.limit(5),
      frameBytes = 32, stride = 4).collect()
    assert(frames.nonEmpty)
    frames.groupBy(_.getLong(0)).values.foreach { g =>
      val offsets = g.sortBy(_.getInt(1)).map(_.getLong(2))
      offsets.zipWithIndex.foreach { case (o, i) => assert(o == i * 128L) }
    }
  }

  test("simhash pairs find planted exact near-dups at hamming 0") {
    // shifted-id copies of 5 docs: each planted copy must pair with its
    // original at hamming distance 0 via the banded candidate join
    val withDups = documents.limit(50)
      .union(documents.limit(5).selectExpr("doc_id + 1000 as doc_id",
        "text", "lang", "source", "n_chars"))
    val pairs = Dedup.simhashPairs(withDups).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (id <- 0L until 5L)
      assert(pairs.exists(p => p._1 == id && p._2 == id + 1000 && p._3 == 0L),
        s"planted dup $id missing from $pairs")
    pairs.foreach(p => assert(p._3 <= 3))
  }

  test("approx distinct and quantile track the exact values") {
    import org.apache.spark.sql.{functions => F}
    val approx = documents.groupBy("lang")
      .agg(F.approx_count_distinct("source").as("ad"),
           F.percentile_approx(F.col("n_chars"), F.lit(0.5), F.lit(10000)).as("aq"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = documents.groupBy("lang")
      .agg(F.countDistinct("source").as("d"),
           F.expr("percentile(n_chars, 0.5)").as("q"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    exact.foreach { case (lang, (d, q)) =>
      val (ad, aq) = approx(lang)
      assert(math.abs(ad - d) <= math.max(1, d / 20), s"$lang distinct $ad vs $d")
      assert(math.abs(aq - q) <= math.max(2.0, q * 0.05), s"$lang quantile $aq vs $q")
    }
  }

  test("duplicate groups resolve planted chains to one representative") {
    // doc 0 duplicated twice under new ids: component {0, 2000, 3000}
    // must resolve to group_id 0 for every member
    val tri = documents.limit(30)
      .union(documents.limit(1).selectExpr("doc_id + 2000 as doc_id",
        "text", "lang", "source", "n_chars"))
      .union(documents.limit(1).selectExpr("doc_id + 3000 as doc_id",
        "text", "lang", "source", "n_chars"))
    val groups = Dedup.duplicateGroups(tri, 0.9).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups(0L) == 0L && groups(2000L) == 0L && groups(3000L) == 0L, groups)
    val kept = Dedup.dedupedCorpus(tri, 0.9)
    assert(kept.filter("doc_id in (2000, 3000)").count() == 0)
    assert(kept.filter("doc_id = 0").count() == 1)
  }

  test("persisted signature table reproduces the inline dedup pipeline") {
    val path = "/tmp/graft_test_sigs"
    Dedup.writeSignatureTable(documents, path)
    val sig = spark.read.parquet(path)
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // job 2 reading the persisted table must be bit-identical to the
    // single-job inline path — candidates AND verified jaccard values
    assert(pairs(Dedup.minhashCandidatesFromSignatures(sig)) ==
      pairs(Dedup.minhashCandidates(documents)))
    def verified(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(verified(Dedup.jaccardPairsFromSignatures(sig, 0.5)) ==
      verified(Dedup.jaccardPairs(documents, 0.5)))
  }

  private def withBroadcastThreshold[T](v: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    spark.conf.set(key, v)
    try body finally spark.conf.set(key, prior)
  }

  /** Connected components on both paths — the driver finish at the
    * session's broadcast threshold, star contraction with the
    * threshold off — asserting one output schema; rows of each. */
  private def ccBothPaths(pairs: DataFrame): Seq[Array[org.apache.spark.sql.Row]] = {
    val driver = Dedup.connectedComponents(pairs)
    val loop = withBroadcastThreshold("-1")(Dedup.connectedComponents(pairs))
    assert(driver.schema == loop.schema,
      s"driver ${driver.schema} != loop ${loop.schema}")
    // the loop labels by a vertex/star-edge join, the driver finish not
    def joins(df: DataFrame): Int = df.queryExecution.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.size
    assert(joins(driver) == 0 && joins(loop) == 1, "path not taken")
    Seq(driver.collect(), loop.collect())
  }
  private def longLabels(rows: Array[org.apache.spark.sql.Row]): Map[Long, Long] =
    rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
  private def stringLabels(rows: Array[org.apache.spark.sql.Row]): Map[String, String] =
    rows.map(r => r.getString(0) -> r.getString(1)).toMap

  test("connected components converge on chains deeper than any fixed cap") {
    import spark.implicits._
    // a 9-vertex path 1-2-...-9 has diameter 8: the old fixed 3-round
    // propagation under-merged it; fixpoint iteration must label every
    // vertex with the component min (1) regardless of depth
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val two = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    for (labels <- ccBothPaths(chain).map(longLabels)) {
      assert(labels.size == 9 && labels.values.forall(_ == 1L), labels.toString)
    }
    // disjoint components stay separate
    for (l2 <- ccBothPaths(two).map(longLabels)) {
      assert(l2(1L) == 1L && l2(2L) == 1L && l2(3L) == 1L &&
        l2(10L) == 10L && l2(11L) == 10L, l2.toString)
    }
  }

  test("star-contraction CC matches union-find and the propagation " +
      "loop on planted chain/star/random graphs (r13)") {
    import spark.implicits._
    // union-find reference (driver-side, the ground truth)
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // min-of-component labels
      val roots = parent.keys.map(x => x -> find(x)).toSeq
      val mins = roots.groupBy(_._2).map { case (r, xs) =>
        r -> xs.map(_._1).min }
      roots.map { case (x, r) => x -> math.min(mins(r), r) }.toMap
    }
    def check(name: String, edges: Seq[(Long, Long)]): Unit = {
      val df = edges.toDF("id_a", "id_b")
      val expected = unionFind(edges)
      val Seq(driver, got) = ccBothPaths(df).map(longLabels)
      assert(driver == expected, s"$name: driver finish != union-find")
      assert(got == expected, s"$name: star-contraction != union-find")
      // the propagation reference needs O(diameter) rounds — the very
      // bound the star contraction removes — so give it headroom
      val ref = CcReference.ccByLabelPropagation(df, maxIters = 200).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref, s"$name: star-contraction != propagation loop")
    }
    // long chain (diameter 59) in shuffled edge order
    val rnd = new scala.util.Random(7)
    check("chain60", rnd.shuffle((1L until 60L).map(i => (i, i + 1))))
    // stars: hub smaller than leaves, hub larger than leaves
    check("star_low_hub", (2L to 40L).map(i => (1L, i)))
    check("star_high_hub", (1L to 39L).map(i => (100L, i)))
    // self-loops, duplicates and reversed duplicates mixed in
    check("messy", Seq((5L, 5L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (9L, 9L), (7L, 8L), (8L, 7L), (1L, 2L)))
    // random graphs at several densities/seeds (components of every
    // shape: isolated pairs, trees, cycles, dense cores)
    for (seed <- Seq(11, 42, 99); m <- Seq(30, 120)) {
      val r = new scala.util.Random(seed + m)
      val es = Seq.fill(m)((r.nextInt(80).toLong, r.nextInt(80).toLong))
      check(s"rand_${seed}_$m", es)
    }
    // string ids order lexicographically, same as the min-label rule
    val sdf = Seq(("b", "c"), ("c", "d"), ("x", "a"), ("a", "b"))
      .toDF("id_a", "id_b")
    for (sGot <- ccBothPaths(sdf).map(stringLabels)) {
      assert(sGot == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
        "x" -> "a"), sGot.toString)
    }
  }

  test("connected components: both paths agree row for row on NULL " +
      "endpoints and label strings by Spark's order, not UTF-16's") {
    import spark.implicits._
    // (NULL, NULL) is one NULL vertex labelled NULL; (NULL, x) is a
    // self-loop of x (greatest/least skip NULLs)
    val nulls = Seq[(java.lang.Long, java.lang.Long)]((null, null),
      (null, 3L), (1L, 2L), (2L, null), (null, null), (5L, 5L))
      .toDF("id_a", "id_b")
    val Seq(driver, loop) = ccBothPaths(nulls).map(_.map(_.toString).sorted.toSeq)
    assert(driver == loop, s"driver=$driver loop=$loop")
    assert(driver == Seq("[1,1]", "[2,1]", "[3,3]", "[5,5]", "[null,null]"),
      driver.toString)
    // U+FFFF sorts below U+1F600 in UTF-8 (Spark) but above its UTF-16
    // surrogates (Scala's String order): the label is Spark's min
    val (ffff, smile) = ("\uFFFF", "\uD83D\uDE00")
    val lone = Seq((smile, ffff)).toDF("id_a", "id_b")
    assert(lone.selectExpr("least(id_a, id_b)").head().getString(0) == ffff)
    for (got <- ccBothPaths(lone).map(stringLabels)) {
      assert(got == Map(ffff -> ffff, smile -> ffff), got.toString)
    }
  }

  test("connected components reliable-checkpoint path matches local") {
    import spark.implicits._
    // checkpointDir switches the per-round materialization from
    // executor-local blocks to reliable checkpoints (the 100 TB
    // failure-recovery contract); output must be identical
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (7L, 8L))
      .toDF("id_a", "id_b")
    // on the star-contraction path, which checkpoints every round
    val (local, reliable) = withBroadcastThreshold("-1") {
      (Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet,
       Dedup.connectedComponents(pairs, checkpointDir = Some(dir)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet)
    }
    assert(reliable == local, s"reliable=$reliable local=$local")
    // the reliable run actually wrote checkpoint data
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .count() > 1
    assert(wrote, "no reliable checkpoint files written")
    // the driver finish reads the reliably checkpointed edge table
    val dir2 = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    val driver = Dedup.connectedComponents(pairs, checkpointDir = Some(dir2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(driver == local, s"driver=$driver local=$local")
  }

  test("as-of join ties on (key, time) resolve deterministically") {
    import spark.implicits._
    // three right rows share (key=1, vt=100): backward must pick the
    // LARGEST (rt, value) struct — reproducible across partitionings
    val left = Seq((10L, 1L, 150L)).toDF("event_id", "user_id", "t")
    val right = Seq((1L, 100L, 7L), (1L, 100L, 3L), (1L, 100L, 9L))
      .toDF("user_id", "vt", "view_id")
      .repartition(3) // scatter the tied rows across partitions
    val out = AsOf.join(left, right, "user_id", "t", "vt", "view_id")
      .select("event_id", "asof_time", "asof_value").collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 100L && out.head.getLong(2) == 9L,
      out.head.toString)
    // forward from t=50: picks the SMALLEST struct among the ties
    val leftF = Seq((11L, 1L, 50L)).toDF("event_id", "user_id", "t")
    val outF = AsOf.joinForward(leftF, right, "user_id", "t", "vt", "view_id")
      .select("event_id", "asof_time", "asof_value").collect()
    assert(outF.head.getLong(1) == 100L && outF.head.getLong(2) == 3L,
      outF.head.toString)
  }

  test("reserved helper-column collisions fail loudly (r6)") {
    import spark.implicits._
    // intervalJoin: an input __b would be silently replaced + dropped
    val l = Seq((1L, 10L, 9L)).toDF("k", "t", "__b")
    val r = Seq((1L, 5L, 15L)).toDF("k", "s", "e")
    val e1 = intercept[IllegalArgumentException] {
      AsOf.intervalJoin(l, r, "k", "t", "s", "e", bucket = 10L)
    }
    assert(e1.getMessage.contains("__b"))
    // as-of: a left asof_value would be clobbered by the output column
    val l2 = Seq((1L, 10L, "x")).toDF("k", "t", "asof_value")
    val r2 = Seq((1L, 5L, 1.0)).toDF("k", "rt", "v")
    val e2 = intercept[IllegalArgumentException] {
      AsOf.join(l2, r2, "k", "t", "rt", "v")
    }
    assert(e2.getMessage.contains("asof_value"))
    // zorderBy: __z
    val e3 = intercept[IllegalArgumentException] {
      Export.zorderBy(Seq((1L, 2L)).toDF("a", "__z"),
        Seq(org.apache.spark.sql.functions.col("a")))
    }
    assert(e3.getMessage.contains("__z"))
    // packSequences: an input `seq` column would collide with output
    val e4 = intercept[IllegalArgumentException] {
      Export.packSequences(Seq((1L, 5L, 2L)).toDF("id", "n", "seq"),
        "id", "n", budget = 10L, numShards = 2)
    }
    assert(e4.getMessage.contains("seq"))
  }

  test("graft_pq_encode rejects invalid m/k at analysis time (r6)") {
    graft.functions.GraftFunctions.register(spark)
    // selectExpr analyzes eagerly — the rejection fires right here,
    // before any job runs
    val ex = intercept[Exception] {
      embeddings.selectExpr(
        "graft_pq_encode(transform(embedding, x -> 1L), array(1L), 0, 16)")
        .collect()
    }
    assert(ex.getMessage.contains("m >= 1"),
      s"expected analysis-time m/k rejection, got: ${ex.getMessage}")
  }

  test("export sharding handles column names needing quoting") {
    import spark.implicits._
    val df = Seq((1L, 5L), (2L, 6L)).toDF("doc id", "n tokens")
    val sharded = graft.ops.Export.withShard(df, "doc id", 4)
    assert(sharded.select("shard").collect().forall(_.getLong(0) < 4))
    val packed = graft.ops.Export.packSequences(df, "doc id", "n tokens", 8L, 2)
    assert(packed.count() == 2)
  }

  test("embedding dup candidates join on (band, bucket) keys") {
    val df = Similarity.embeddingDupPairs(embeddings, 0.3)
    val joinConds = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.map(_.toString).getOrElse("")
    }
    assert(joinConds.exists(c => c.contains("band") && c.contains("bucket")),
      s"no (band, bucket)-keyed join in:\n${joinConds.mkString("\n")}")
    // verified output respects the threshold
    df.collect().foreach(r => assert(r.getDouble(2) >= 0.3))
  }

  test("multi-probe lsh recall is at least single-probe recall") {
    val brute = Similarity.bruteForceTopK(embeddings, "vec_id < 10", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(brute).size
    val single = hits(Similarity.lshTopK(embeddings, "vec_id < 10", 3))
    val multi = hits(Similarity.lshTopKMultiProbe(embeddings, "vec_id < 10", 3))
    assert(multi >= single, s"multi-probe recall $multi < single-probe $single")
  }

  test("kmeans ivf build partitions the corpus and probes within cells") {
    val assigned = Similarity.ivfBuild(embeddings, cells = 8)
    assert(assigned.count() == embeddings.count())
    val cells = assigned.selectExpr("cell").distinct().collect().map(_.getInt(0))
    assert(cells.length > 1 && cells.forall(c => c >= 0 && c < 8))
    val cellOf = assigned.collect().map(r =>
      r.getLong(0) -> r.getAs[Int]("cell")).toMap
    val out = Similarity.ivfTopKFrom(assigned, "vec_id < 10", 3).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(cellOf(r.getLong(0)) == cellOf(r.getLong(1))))
    // exact rerank within a cell can never beat the global brute best
    val best = Similarity.bruteForceTopK(embeddings, "vec_id < 10", 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    out.foreach(r => assert(r.getDouble(2) <= best(r.getLong(0)) + 1e-9))
  }

  test("ivf topk stays within the query's cell") {
    val cells = embeddings.collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val out = Similarity.ivfTopK(embeddings, "vec_id < 10", 3).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(cells(r.getLong(0)) == cells(r.getLong(1))))
  }

  test("semantic dedup keeps min-id per within-cell duplicate group") {
    // trained-kmeans form: every vector appears exactly once; each
    // group's representative is its min id and lives in one cell
    val out = Similarity.semanticDedup(embeddings, threshold = 0.3,
      cells = 8).collect()
    assert(out.length == embeddings.count())
    val byGroup = out.groupBy(_.getAs[Long]("group_id"))
    byGroup.foreach { case (gid, members) =>
      assert(members.map(_.getAs[Long]("vec_id")).min == gid)
      assert(members.count(_.getAs[Boolean]("kept")) == 1)
      assert(members.find(_.getAs[Boolean]("kept")).get
        .getAs[Long]("vec_id") == gid)
      assert(members.map(_.getAs[Int]("cell")).distinct.length == 1)
    }
    // label-cell form agrees with a direct pair recomputation: a
    // vector is dropped iff it is connected to a lower id in its cell
    val labeled = Similarity.semanticDedupFrom(embeddings, 0.3,
      cellCol = "label").collect()
    val droppedN = labeled.count(!_.getAs[Boolean]("kept"))
    val pairsN = Similarity.embeddingDupPairs(embeddings, 0.3).count()
    // every dropped vector implies at least one qualifying pair
    assert(droppedN == 0 || pairsN > 0)
  }

  test("tfidf ranks a document's rare term above its common terms") {
    import spark.implicits._
    // "zebra" appears once, only in doc 1; "the" floods every doc
    val docs = Seq(
      (1L, "the zebra the the"),
      (2L, "the cat the"),
      (3L, "the dog the")).toDF("doc_id", "text")
    val rows = TextAnalysis.tfidfTopTerms(docs, 1).collect()
    val top = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top(1L) == "zebra") // df=1 beats tf=3 of the df=3 "the"
    // k bound and rank fields hold
    assert(rows.forall(_.getInt(4) == 1))
    val top2 = TextAnalysis.tfidfTopTerms(docs, 2)
      .filter("doc_id = 1").collect().sortBy(_.getInt(4))
    assert(top2.map(_.getString(1)).toSeq == Seq("zebra", "the"))
  }

  test("repetition stats flag duplicated words and bigrams exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam ham"),   // 4 words, 2 distinct
      (2L, "all words differ here"),
      (3L, "one")).toDF("doc_id", "text") // too short for bigrams
    val out = TextAnalysis.repetitionStats(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 4)
    assert(out(1L).getDouble(2) == 0.5) // 1 - 2/4
    assert(out(1L).getDouble(3) == 2.0 / 3) // "spam spam" twice of 3
    assert(out(2L).getDouble(2) == 0.0)
    assert(out(2L).getDouble(3) == 1.0 / 3) // all bigrams unique
    assert(out(3L).isNullAt(3)) // no bigram for a 1-word doc
  }

  test("vocabulary stats count OOV tokens against the top-V exactly") {
    import spark.implicits._
    // corpus counts: the=4, cat=2, dog=1, zebra=1 — with V=2 the
    // vocabulary is {the, cat} (counts, then lexicographic ties)
    val docs = Seq(
      (1L, "the cat the dog"),
      (2L, "the zebra"),
      (3L, "cat the")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabularyStats(docs, vocabSize = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 4)       // n_tokens
    assert(out(1L).getLong(2) == 1)       // dog is OOV
    assert(out(1L).getDouble(3) == 0.25)  // oov_ratio
    // mean corpus freq: (4 + 2 + 4 + 1) / 4
    assert(out(1L).getDouble(4) == 11.0 / 4)
    assert(out(2L).getLong(2) == 1)       // zebra OOV
    assert(out(3L).getLong(2) == 0)       // cat + the both in-vocab
    assert(out(3L).getDouble(3) == 0.0)
  }

  test("vocabulary boundary ties break lexicographically") {
    import spark.implicits._
    // beta and alpha tie at count 1 behind top=2: V=2 must pick alpha
    val docs = Seq((1L, "top top alpha"), (2L, "beta")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabularyStats(docs, vocabSize = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(2) == 0) // top, alpha in vocab
    assert(out(2L).getLong(2) == 1) // beta out
  }

  test("PQ encode: seed vectors are their own codes with zero error") {
    import spark.implicits._
    // 4 vectors, dim 4, m=2 blocks, k=2 codes: vectors 1 and 2 ARE
    // the codebook, so they encode to themselves with pq_err 0
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (2L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 0.1f, 0.1f, 1.0f)),  // near vector 1
      (4L, Array(0.1f, 1.0f, 1.0f, 0.1f))   // near vector 2
    ).toDF("vec_id", "embedding")
    val out = graft.ops.Similarity.pqEncode(emb, m = 2, k = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Int](1), r.getLong(2)))).toMap
    assert(out(1L)._1 == Seq(0, 0) && out(1L)._2 == 0L)
    assert(out(2L)._1 == Seq(1, 1) && out(2L)._2 == 0L)
    assert(out(3L)._1 == Seq(0, 0) && out(3L)._2 > 0L) // nearest seed 1
    assert(out(4L)._1 == Seq(1, 1) && out(4L)._2 > 0L) // nearest seed 2
  }

  test("trained PQ codebook reconstructs no worse than the seed codebook (r6)") {
    // per-block k-means minimizes exactly the summed squared distance
    // pq_err measures — it must beat (or tie) the arbitrary
    // first-k-vectors seed codebook on total reconstruction error
    val m = 4; val k = 8
    val seedErr = Similarity.pqEncode(embeddings, m, k)
      .agg(org.apache.spark.sql.functions.sum("pq_err")).collect()(0).getLong(0)
    val trained = Similarity.pqTrain(embeddings, m, k)
    assert(trained.count() == m.toLong * k)
    val enc = Similarity.pqEncodeWith(embeddings, trained, m, k)
    val rows = enc.collect()
    assert(rows.length == embeddings.count())
    rows.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length == m && codes.forall(c => c >= 0 && c < k))
    }
    val trainedErr = enc
      .agg(org.apache.spark.sql.functions.sum("pq_err")).collect()(0).getLong(0)
    assert(trainedErr <= seedErr,
      s"trained codebook worse than seed: $trainedErr > $seedErr")
  }

  test("pqTopK equals brute-force exactly at a candidate-complete multiplier (r9)") {
    // with k·mult ≥ corpus size the ADC candidate set covers every
    // non-self vector, so the exact rerank MUST reproduce the brute
    // oracle bit-for-bit (same rounding, same tiebreaks)
    val corpus = embeddings.filter("vec_id < 60")
    val n = corpus.count().toInt
    val k = 5
    val adc = Similarity.pqTopK(corpus, "vec_id < 4", k = k,
      m = 4, kc = 8, mult = (n + k - 1) / k)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).sortBy(x => (x._1, x._4))
    val brute = Similarity.bruteForceTopK(corpus, "vec_id < 4", k)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).sortBy(x => (x._1, x._4))
    assert(adc.toSeq == brute.toSeq,
      s"\nadc:   ${adc.take(8).mkString(",")}\nbrute: ${brute.take(8).mkString(",")}")
    // tight multiplier: still k rows per query, ranks 1..k, sims
    // within [-1, 1], and recall@k vs brute above a sane floor for
    // a 4×8 codebook on 64-d data
    val tight = Similarity.pqTopK(corpus, "vec_id < 4", k = k,
      m = 4, kc = 8, mult = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(tight.length == 4 * k)
    val byQ = tight.groupBy(_._1)
    assert(byQ.values.forall(_.map(_._3).sorted.toSeq == (1 to k).map(_.toLong)))
    val bruteSet = brute.map(x => (x._1, x._2)).toSet
    val hits = tight.count(x => bruteSet.contains((x._1, x._2)))
    assert(hits >= 2 * k, s"recall too low: $hits / ${4 * k}")
    // the trained codebook drops into the same search plan
    val trained = Similarity.pqTrain(corpus, 4, 8)
    val tr = Similarity.pqTopK(corpus, "vec_id < 2", k = 3,
      m = 4, kc = 8, mult = 4, codebook = Some(trained))
      .collect()
    assert(tr.length == 6 && tr.forall(r => r.getLong(3) <= 3))
  }

  test("ivfPqTopK composes cells with ADC: brute/ivf equality at candidate-complete settings (r10)") {
    val k = 5
    val n = embeddings.count().toInt // 500 vectors, 10 label cells
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).sortBy(x => (x._1, x._4)).toSeq
    // probing EVERY cell with a candidate-complete multiplier must
    // reproduce the brute oracle bit-for-bit (same rounding/tiebreaks)
    // — this exercises the nprobe>1 centroid-ranking path end to end
    val all = Similarity.ivfPqTopK(embeddings, "vec_id < 4", k = k,
      m = 4, kc = 8, mult = (n + k - 1) / k, nprobe = 10)
    assert(canon(all) == canon(
      Similarity.bruteForceTopK(embeddings, "vec_id < 4", k)))
    // nprobe=1 with an in-cell-complete multiplier = exact search
    // within the query's own cell = ivfTopK (cells are <= 63 rows)
    val own = Similarity.ivfPqTopK(embeddings, "vec_id < 4", k = k,
      m = 4, kc = 8, mult = 13, nprobe = 1)
    assert(canon(own) == canon(
      Similarity.ivfTopK(embeddings, "vec_id < 4", k)))
    // tight settings: k rows per query, ranks 1..k; neighbors at
    // nprobe=1 stay inside the query's own cell
    val labels = embeddings.collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val tight = Similarity.ivfPqTopK(embeddings, "vec_id < 4", k = k,
      m = 4, kc = 8, mult = 2, nprobe = 1).collect()
    assert(tight.length == 4 * k)
    tight.foreach(r =>
      assert(labels(r.getLong(1)) == labels(r.getLong(0)),
        s"neighbor ${r.getLong(1)} escaped the probed cell"))
    // the trained quantizer + trained codebook drop into the same plan
    val cells = Similarity.ivfBuild(embeddings, cells = 8)
    val trained = Similarity.pqTrain(embeddings, 4, 8)
    val tr = Similarity.ivfPqTopKFrom(cells, "vec_id < 2", k = 3,
      m = 4, kc = 8, mult = 4, nprobe = 2, codebook = Some(trained))
      .collect()
    assert(tr.length == 6 && tr.forall(r => r.getLong(3) <= 3))
  }

  test("pqEncodeWith on the seed codebook reproduces pqEncode (r6)") {
    import spark.implicits._
    // extract the seed codebook by encoding the k lowest-id vectors'
    // block slices — equivalently, build it directly on the lattice
    val m = 2; val k = 2
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (2L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (3L, Array(0.9f, 0.2f, 0.3f, 0.8f))
    ).toDF("vec_id", "embedding")
    // seed codebook on the int8 lattice: vectors 1,2 quantized; block
    // b slice of vector c = centroid (b, c)
    def lat(v: Array[Float]): Array[Long] = {
      val s = v.map(x => math.abs(x.toDouble)).max
      if (s == 0) v.map(_ => 0L)
      else v.map(x => math.floor(x.toDouble * 127 / s + 0.5).toLong)
    }
    val cb = Seq(
      (0, 0, lat(Array(1.0f, 0.0f, 0.0f, 1.0f)).slice(0, 2).toSeq),
      (1, 0, lat(Array(1.0f, 0.0f, 0.0f, 1.0f)).slice(2, 4).toSeq),
      (0, 1, lat(Array(0.0f, 1.0f, 1.0f, 0.0f)).slice(0, 2).toSeq),
      (1, 1, lat(Array(0.0f, 1.0f, 1.0f, 0.0f)).slice(2, 4).toSeq)
    ).toDF("block", "code", "centroid")
    val a = Similarity.pqEncode(emb, m, k).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2))).sortBy(_._1)
    val b = Similarity.pqEncodeWith(emb, cb, m, k).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  test("z-order interleave matches hand-computed Morton codes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, 0L), (0L, 1L), (3L, 3L), (2L, 1L))
      .toDF("x", "y")
    val z = df.select(graft.ops.Export
        .zorderValue(Seq(col("x"), col("y")), bits = 2).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // interleave x bit i -> position 2i, y bit i -> 2i+1
    assert(z == Seq(1L, 2L, 15L, 6L))
  }

  test("z-ordered layout clusters both dimensions per partition") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 32x32 grid; 16 range partitions on the z-value: most partitions
    // are compact ~8x8 Morton tiles (a sampled boundary can straddle
    // a quadrant edge, so assert the MEAN bounding-box area — far
    // below the 32x32=961 extent a row-major or random layout gives
    // in the off dimension)
    val grid = (for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val parts = graft.ops.Export
      .zorderBy(grid, Seq(col("x"), col("y")), bits = 5, partitions = 16)
      .rdd.mapPartitions { it =>
        val rows = it.toSeq
        if (rows.isEmpty) Iterator.empty
        else {
          val xs = rows.map(_.getLong(0)); val ys = rows.map(_.getLong(1))
          Iterator((xs.max - xs.min) * (ys.max - ys.min))
        }
      }.collect()
    assert(parts.nonEmpty)
    assert(parts.sum.toDouble / parts.length <= 256.0,
      s"mean z-partition box area ${parts.sum.toDouble / parts.length}")
  }

  test("upsert replaces same-key rows and appends new keys") {
    import spark.implicits._
    val corpus = Seq((1L, "old-a"), (2L, "old-b"), (3L, "old-c"))
      .toDF("doc_id", "text")
    val batch = Seq((2L, "new-b"), (9L, "new-i")).toDF("doc_id", "text")
    val out = graft.ops.Export.upsert(corpus, batch, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "old-a", 2L -> "new-b",
      3L -> "old-c", 9L -> "new-i"))
    // schema mismatch is loud
    val e = intercept[IllegalArgumentException](
      graft.ops.Export.upsert(corpus,
        Seq((1L, "x", 1)).toDF("doc_id", "text", "extra"), "doc_id"))
    assert(e.getMessage.contains("schema"))
  }

  test("incremental dedup drops batch rows already in the corpus") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha"), (2L, "beta"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha"),  // already ingested -> dropped
      (11L, "gamma"), (13L, "gamma"), // in-batch dup -> keep-first 11
      (12L, "delta"),
      // null text never matches anything, not even other nulls: both
      // pass through (SQL equality semantics)
      (14L, null.asInstanceOf[String]),
      (15L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(batch, corpus)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L, 14L, 15L))
  }

  test("contamination scores measure shingle overlap with the train side") {
    import spark.implicits._
    val train = Seq((1L, "a b c d")).toDF("doc_id", "text")
    // shingles(train) = {"a b c", "b c d"}
    val eval_ = Seq(
      (10L, "a b c x"),        // {"a b c", "b c x"} -> 1 of 2 matched
      (11L, "a b c d"),        // identical -> fully contaminated
      (12L, "p q r s")).toDF("doc_id", "text") // disjoint -> 0
    val out = Dedup.contaminationScores(train, eval_).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(10L) == ((2L, 1L, 0.5)))
    assert(out(11L) == ((2L, 2L, 1.0)))
    assert(out(12L) == ((2L, 0L, 0.0)))
  }

  test("label centroids average each dimension over the label's vectors") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 2.0f), 0),
      (2L, Array(3.0f, 6.0f), 0),
      (3L, Array(5.0f, 5.0f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(emb).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out((0, 0)) == (2L, 2.0) && out((0, 1)) == (2L, 4.0))
    assert(out((1, 0)) == (1L, 5.0) && out((1, 1)) == (1L, 5.0))
  }

  test("temperature mixture upweights small domains at tau=0.5 (r6)") {
    import spark.implicits._
    // A: 90 rows, B: 10 rows, target 50.
    //   tau=0.5: w=(sqrt(90), sqrt(10)) -> p=(0.75, 0.25)
    //     f_A = 0.75*50/90 ~= 0.417; f_B = 0.25*50/10 = 1.25 -> clamp 1
    //   tau=1.0: proportional -> f = 0.5 for both
    val df = ((1 to 90).map(i => (i.toLong, "A")) ++
      (101 to 110).map(i => (i.toLong, "B"))).toDF("doc_id", "g")
    val half = Sampling.temperatureMixture(df, "g", "doc_id", 50L, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // every B row survives (clamped fraction 1)
    assert(half.count(_._2 == "B") == 10)
    // A thinned to roughly f_A * 90 = ~37 (hash noise allowed)
    val aKept = half.count(_._2 == "A")
    assert(aKept > 20 && aKept < 55, s"aKept=$aKept")
    // deterministic: identical selection on re-run
    val again = Sampling.temperatureMixture(df, "g", "doc_id", 50L, 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(half.toSet == again.toSet)
    // tau=1.0 is proportional: both groups at ~0.5
    val prop = Sampling.temperatureMixture(df, "g", "doc_id", 50L, tau = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(prop.count(_._2 == "B") < 10) // no clamp at proportional
    // a NULL group forms its own class and is preserved, not dropped
    val withNull = df.union(Seq((200L, null.asInstanceOf[String]),
      (201L, null.asInstanceOf[String])).toDF("doc_id", "g"))
    val noverall = Sampling.temperatureMixture(withNull, "g", "doc_id",
      200L, 0.5)
    assert(noverall.filter("g is null").count() == 2) // f clamps to 1
  }

  test("retention curve counts rows and weight mass per threshold (r6)") {
    import spark.implicits._
    val df = Seq((1.0, 10L), (2.0, 20L), (3.0, 30L), (4.0, 40L))
      .toDF("score", "w")
      .union(Seq((null.asInstanceOf[java.lang.Double], 99L))
        .toDF("score", "w").selectExpr("cast(score as double)", "w"))
    val out = Curation.retentionCurve(df, "score", "w", Seq(2.5, 0.5, 9.0))
      .collect().map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))).toMap
    // totals: 5 rows, weight 199 (null score still carries mass)
    assert(out(2.5) == ((2L, 2.0 / 5, 70L, 70.0 / 199)))
    assert(out(0.5) == ((4L, 4.0 / 5, 100L, 100.0 / 199)))
    assert(out(9.0) == ((0L, 0.0, 0L, 0.0)))
  }

  test("shard assignment is uniform-ish, in range and deterministic") {
    val sharded = Export.withShard(documents, "doc_id", 16)
    val counts = sharded.groupBy("shard").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keySet.forall(s => s >= 0 && s < 16))
    assert(counts.values.sum == documents.count())
    // md5 is uniform: no shard should be empty or grossly skewed
    assert(counts.size == 16)
    assert(counts.values.max < 4L * counts.values.min)
    // stable across evaluations (no rand(): same assignment each run)
    val again = Export.withShard(documents, "doc_id", 16)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    sharded.select("doc_id", "shard").collect()
      .foreach(r => assert(again(r.getLong(0)) == r.getLong(1)))
  }

  test("shard stats aggregate per-shard rows and bytes") {
    val stats = Export.shardStats(documents, "doc_id", 8, "n_chars").collect()
    assert(stats.map(_.getLong(1)).sum == documents.count())
    val totalChars = documents.agg(org.apache.spark.sql.functions
      .sum("n_chars")).collect()(0).getLong(0)
    assert(stats.map(_.getLong(2)).sum == totalChars)
  }

  test("sequence packing cuts shards at the token budget") {
    import spark.implicits._
    val df = (1L to 40L).map(i => (i, 100L + i)).toDF("doc_id", "n_tokens")
    val packed = Export.packSequences(df, "doc_id", "n_tokens", 300L, 2)
      .collect().map(r => (r.getAs[Long]("shard"), r.getAs[Long]("seq"),
        r.getAs[Int]("seq_pos"), r.getAs[Long]("n_tokens")))
    // every (shard, seq) group's tokens fit the budget except for the
    // last doc, which may straddle the cut (contiguous fill)
    packed.groupBy(p => (p._1, p._2)).foreach { case (_, g) =>
      val tokens = g.sortBy(_._3).map(_._4)
      assert(tokens.init.sum < 300L,
        s"all but the straddling doc must start inside the budget: $g")
      // seq_pos is 1..n dense within the sequence
      assert(g.map(_._3).sorted.sameElements(1 to g.length))
    }
    // seq ids are dense from 0 within each shard
    packed.groupBy(_._1).foreach { case (_, g) =>
      val seqs = g.map(_._2).distinct.sorted
      assert(seqs.sameElements(0L until seqs.length))
    }
  }

  test("sequence packing matches an independent spark.sql replay") {
    val docs = documents.filter("text is not null")
      .selectExpr("doc_id",
        "cast(size(filter(split(lower(text), ' '), t -> t <> '')) as bigint) as n_tokens")
    docs.createOrReplaceTempView("__pack_in")
    val expected = spark.sql(
      """with t as (select doc_id, n_tokens,
             cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 8 as shard,
             md5(cast(doc_id as string)) as hk from __pack_in),
           c as (select doc_id, shard, n_tokens,
                   sum(n_tokens) over (partition by shard order by hk, doc_id
                     rows between unbounded preceding and current row) as cum, hk
                 from t)
         select doc_id, shard, n_tokens, (cum - n_tokens) div 2048 as seq,
           cast(row_number() over (partition by shard, (cum - n_tokens) div 2048
                order by hk, doc_id) as int) as seq_pos
         from c""")
    assertSameRows(
      Export.packSequences(docs, "doc_id", "n_tokens", 2048L, 8)
        .select("doc_id", "shard", "n_tokens", "seq", "seq_pos"),
      expected)
  }

  test("concatenated sequences preserve seq_pos order and token sums") {
    import spark.implicits._
    val df = (1L to 20L).map(i => (i, s"doc$i", 100L + i))
      .toDF("doc_id", "text", "n_tokens")
    val packed = Export.packSequences(df, "doc_id", "n_tokens", 300L, 2)
    val seqs = Export.concatSequences(packed, "text", "n_tokens").collect()
    // every document appears exactly once across all sequences
    val allDocs = seqs.flatMap(_.getAs[String]("text").split(" "))
    assert(allDocs.sorted.toSeq == (1L to 20L).map(i => s"doc$i").sorted)
    // NULL text coalesces to '' — the doc still occupies its slot, so
    // n_docs stays consistent with the concatenation
    import org.apache.spark.sql.functions.{lit, when, col}
    val withNull = packed.withColumn("text",
      when(col("doc_id") === 1L, lit(null)).otherwise(col("text")))
    val np = Export.concatSequences(withNull, "text", "n_tokens").collect()
    assert(np.map(_.getAs[Long]("n_docs")).sum == 20L)
    // concatenation order equals seq_pos order within each sequence
    val byKey = packed.collect().map(r => (r.getAs[Long]("shard"),
      r.getAs[Long]("seq"), r.getAs[Int]("seq_pos"), r.getAs[String]("text")))
    seqs.foreach { r =>
      val expect = byKey
        .filter(p => p._1 == r.getAs[Long]("shard") && p._2 == r.getAs[Long]("seq"))
        .sortBy(_._3).map(_._4).mkString(" ")
      assert(r.getAs[String]("text") == expect)
      assert(r.getAs[Long]("n_docs") == expect.split(" ").length)
    }
  }

  test("int8 quantization has exact hand-computed checksums") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(0.5f, -2.25f, 0.0f)),  // scale 2.25 -> q = [28, -127, 0]
      (2L, Array(0.0f, 0.0f, 0.0f)),    // zero vector -> all zeros
      (3L, Array(1.0f))                  // scale 1 -> q = [127]
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeEmbeddings(emb).collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), r.getInt(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == ((2.25, 3, -99L, 155L)))
    assert(out(2L) == ((0.0, 3, 0L, 0L)))
    assert(out(3L) == ((1.0, 1, 127L, 127L)))
  }

  test("quantization error is bounded by half a step") {
    val q = Similarity.quantizeEmbeddings(embeddings)
    // |q| <= 127 * dim always, and q_l1 > 0 for any nonzero vector
    q.collect().foreach { r =>
      assert(r.getLong(4) <= 127L * r.getInt(2))
      assert(r.getLong(3).abs <= r.getLong(4))
      if (r.getDouble(1) > 0) assert(r.getLong(4) > 0)
    }
  }

  test("span dedup keeps first occurrence of each line in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "header\nbody one\nheader\nbody two\nheader"),
      (2L, "only\nunique\nlines"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextAnalysis.dedupSpans(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "header\nbody one\nbody two")
    assert(out(2L) == "only\nunique\nlines")
    assert(out(3L) == null)
    // separator is literal, not regex: '.' must not match everything
    val dotted = Seq((1L, "a.b.a.c")).toDF("doc_id", "text")
    assert(TextAnalysis.dedupSpans(dotted, ".").collect()
      .head.getString(1) == "a.b.c")
  }

  test("top ngrams count occurrences and distinct docs exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the cat"),   // "the cat" x2
      (2L, "the cat ran"),              // "the cat" x1
      (3L, "a lone token")).toDF("doc_id", "text")
    val out = TextAnalysis.topNgrams(docs, 2, 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.head == (("the cat", 3L, 2L)))
    assert(out.length == 3)
    // ties broken by gram text ascending after count descending
    assert(out.map(_._2).sorted.reverse.sameElements(out.map(_._2)))
  }

  test("matryoshka truncation renormalizes to unit length") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(3f, 4f, 100f, 100f)),  // first-2 norm = 5
      (2L, Seq(0f, 0f, 9f, 9f))       // first-2 is the zero vector
    ).toDF("vec_id", "embedding")
    val out = graft.ops.Similarity.truncateNormalize(emb, 2)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getSeq[Double](2))).toMap
    assert(math.abs(out(1L)._1 - 5.0) < 1e-9)
    assert(out(1L)._2.zip(Seq(0.6, 0.8)).forall {
      case (a, b) => math.abs(a - b) < 1e-12 })
    // zero slice -> zero unit vector, no NaNs
    assert(out(2L)._1 == 0.0 && out(2L)._2 == Seq(0.0, 0.0))
    // unit norm is 1 for every nonzero vector of the real table
    val units = graft.ops.Similarity.truncateNormalize(
      spark.read.parquet(s"${graft.TestSpark.sfDir}/embeddings.parquet"), 4)
      .selectExpr("aggregate(unit, 0D, (a, x) -> a + x * x) as n2")
      .collect().map(_.getDouble(0))
    assert(units.forall(n2 => math.abs(n2 - 1.0) < 1e-9 || n2 == 0.0))
  }

  test("cross-document duplicate spans: first global occurrence is original") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h x"),  // spans: [a..h], [b..x] — both original
      (2L, "z a b c d e f g h"),  // [z..g] original, [a..h] duplicates doc 1
      (3L, "a b c d e f g h x")   // both spans duplicate doc 1 exactly
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.duplicateSpanStats(docs, 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> (2L, 0L), 2L -> (2L, 1L), 3L -> (2L, 2L)))
    // documents shorter than the span length produce no row
    val short = graft.ops.Dedup.duplicateSpanStats(
      Seq((9L, "too short")).toDF("doc_id", "text"), 8)
    assert(short.count() == 0)
  }

  test("ivfAssign: frozen-quantizer assignment, ties to lowest cell, incremental (r11)") {
    import spark.implicits._
    // centroids on the int8 lattice directly: cell 0 at (127, 0),
    // cell 1 at (0, 127)
    val cent = Seq((0L, Seq(127L, 0L)), (1L, Seq(0L, 127L)))
      .toDF("cell", "q")
    // v1 → cell 0 (lattice (127, 0)); v2 → cell 1 (lattice (0, 127));
    // v3 at (1, 1) → lattice (127, 127): EQUIDISTANT → lowest cell
    val batch1 = Seq(
      (1L, Seq(2.0f, 0.0f)), (2L, Seq(0.0f, 5.0f)), (3L, Seq(1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val a1 = graft.ops.Similarity.ivfAssign(batch1, cent)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(a1(1L) == (0L, 0L))
    assert(a1(2L) == (1L, 0L))
    assert(a1(3L)._1 == 0L, "tie must break to the lowest cell")
    // a LATER batch assigns against the SAME frozen table and the
    // union composes into the cell-bounded operators unchanged
    val batch2 = Seq((4L, Seq(3.0f, 0.1f))).toDF("vec_id", "embedding")
    val all = graft.ops.Similarity.ivfAssign(batch1, cent)
      .unionByName(graft.ops.Similarity.ivfAssign(batch2, cent))
    val edges = graft.ops.Similarity.knnGraphFrom(
      all.select("vec_id", "embedding", "cell"), 2)
    val pairs = edges.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // cells: {1, 3, 4} in cell 0, {2} alone in cell 1 (no edges)
    assert(pairs.contains((1L, 4L)) && pairs.contains((4L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
    // seed quantizer is the k lowest-vec_id lattices with ids 0..k-1
    val seeds = graft.ops.Similarity.ivfSeedCentroids(batch1, 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(seeds(0L) == Seq(127L, 0L) && seeds(1L) == Seq(0L, 127L))
    // empty centroid table raises in-plan, loudly
    val bad = graft.ops.Similarity.ivfAssign(batch1, cent.limit(0))
    val err = intercept[Exception](bad.collect())
    assert(err.getMessage.contains("empty centroid table"), err.getMessage)
    // dimension mismatch throws in BOTH directions (review r11 pass
    // 2: a shorter batch must not silently prefix-score against a
    // wider frozen quantizer)
    val wide = Seq((0L, Seq(127L, 0L, 0L))).toDF("cell", "q")
    intercept[Exception](
      graft.ops.Similarity.ivfAssign(batch1, wide).collect())
    val narrow = Seq((0L, Seq(127L))).toDF("cell", "q")
    intercept[Exception](
      graft.ops.Similarity.ivfAssign(batch1, narrow).collect())
  }

  test("cell-bounded family bounds a planted giant cell (maxCellSize, r11)") {
    // 300 vectors land in ONE quantization cell — the O(|cell|²)
    // worst case. maxCellSize=50 splits it by pmod(xxhash64(vec_id),
    // ceil(300/50)) into 6 sub-cells: pairs/edges form within
    // sub-cells only (bounded task input, documented recall trade)
    val giant = spark.range(300).selectExpr(
      "id as vec_id",
      "array(cast(id as float), cast(1 as float)) as embedding",
      "0 as cell")
    val edges = graft.ops.Similarity.knnGraphFrom(giant, 5, maxCellSize = 50)
    assert(edges.count() > 0)
    // every edge's endpoints share the deterministic sub assignment
    val viol = edges.where(
      "pmod(xxhash64(src), 6) <> pmod(xxhash64(dst), 6)").count()
    assert(viol == 0, "edge crossed a sub-cell boundary")
    // the sub-cells are genuinely bounded (expectation 50, slack 2x)
    val maxSub = giant
      .selectExpr("pmod(xxhash64(vec_id), 6) as sub")
      .groupBy("sub").count().agg(F.max("count")).collect()(0).getLong(0)
    assert(maxSub <= 100, s"sub-cell of $maxSub rows")
    // semantic dedup honors the same bound: duplicate groups never
    // cross sub-cells
    val dupGiant = spark.range(300).selectExpr(
      "id as vec_id",
      "array(cast(id % 3 as float), cast(1 as float)) as embedding",
      "0 as cell")
    val sd = graft.ops.Similarity
      .semanticDedupFrom(dupGiant, 0.999999, maxCellSize = 50)
    val grouped = sd.where("vec_id <> group_id")
      .selectExpr("vec_id", "group_id").where(
        "pmod(xxhash64(vec_id), 6) <> pmod(xxhash64(group_id), 6)")
    assert(grouped.count() == 0, "duplicate group crossed a sub-cell")
    // cells at/below the bound are untouched: identical output with
    // and without the bound when no cell exceeds it
    val normal = spark.range(40).selectExpr(
      "id as vec_id",
      "array(cast(id as float), cast(id % 7 as float)) as embedding",
      "cast(id % 4 as int) as cell")
    val base = graft.ops.Similarity.knnGraphFrom(normal, 3)
      .collect().map(_.toString).sorted
    val withBound = graft.ops.Similarity
      .knnGraphFrom(normal, 3, maxCellSize = 50)
      .collect().map(_.toString).sorted
    assert(base.sameElements(withBound))
  }

  test("span dedup survives a planted hot span (one hash x 50k occurrences)") {
    // the r10 row_number window put all occurrences of one span hash
    // in ONE task; the r11 two-phase min-struct rewrite must stay
    // correct (and bounded) when a single boilerplate span dominates
    val hot = spark.range(50000).selectExpr(
      "id as doc_id", "'w1 w2 w3 w4' as text")
    val stats = graft.ops.Dedup.duplicateSpanStats(hot, 4)
      .selectExpr("sum(n_spans) as s", "sum(n_dup) as d",
        "count(*) as n").collect()(0)
    assert(stats.getLong(0) == 50000L && stats.getLong(1) == 49999L &&
      stats.getLong(2) == 50000L)
    val removed = graft.ops.Dedup.removeDuplicateSpans(hot, 4)
    val agg = removed.selectExpr(
      "sum(case when text = '' then 1 else 0 end) as emptied",
      "sum(n_removed) as rem",
      "min(case when text <> '' then doc_id end) as surv").collect()(0)
    assert(agg.getLong(0) == 49999L, "all but the first occurrence emptied")
    assert(agg.getLong(1) == 4L * 49999L)
    assert(agg.getLong(2) == 0L, "global first occurrence (doc 0) survives")
  }

  test("bigram LM parts: exact integer count layer matches hand computation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b"), // bigrams: "a b"x2, "b a"x1
      (2L, "a c"),
      (3L, "z")        // one token: no bigrams
    ).toDF("doc_id", "text")
    // self-model: uni a:3 b:2 c:1 z:1 (V=4); bi "a b":2 "b a":1 "a c":1
    val self = graft.ops.TextAnalysis.bigramLmParts(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    // doc1: n=3; num = 2*cb("a b") + 1*cb("b a") = 2*2 + 1 = 5;
    //       den = 2*cu(a) + 1*cu(b) = 6 + 2 = 8; no OOV
    assert(self(1L) == (3L, 5L, 8L, 0L, 4L))
    assert(self(2L) == (1L, 1L, 3L, 0L, 4L)) // "a c": cb=1, cu(a)=3
    assert(self(3L) == (0L, 0L, 0L, 0L, 4L))
    // external model missing doc2's bigram AND context: both sums
    // read the zero backoff and n_oov counts the unseen gram
    val model = Seq((9L, "a b a b")).toDF("doc_id", "text")
    val ext = graft.ops.TextAnalysis.bigramLmParts(docs, Some(model))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    // model: uni a:2 b:2 (V=2); bi "a b":2 "b a":1
    assert(ext(1L) == (3L, 5L, 6L, 0L, 2L))
    assert(ext(2L) == (1L, 0L, 2L, 1L, 2L)) // "a c" unseen; cu(a)=2
    assert(ext(3L) == (0L, 0L, 0L, 0L, 2L))
  }

  test("bigram LM score: add-k log-probs match hand computation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b"), // bigrams: "a b"x2, "b a"x1
      (2L, "a c"),
      (3L, "z")        // one token: no bigrams
    ).toDF("doc_id", "text")
    // self-model counts: a:3 b:2 c:1 z:1 (V=4); "a b":2 "b a":1 "a c":1
    val out = graft.ops.TextAnalysis.bigramLmScore(docs)
      .collect()
      .map(r => r.getLong(0) ->
        (Option(r.getAs[Any]("lm_score")).map(_.asInstanceOf[Double]),
          r.getLong(2)))
      .toMap
    val pBgivenA = (2 + 0.5) / (3 + 0.5 * 4) // 0.5
    val pAgivenB = (1 + 0.5) / (2 + 0.5 * 4) // 0.375
    val pCgivenA = (1 + 0.5) / (3 + 0.5 * 4) // 0.3
    val d1 = (2 * math.log(pBgivenA) + math.log(pAgivenB)) / 3
    assert(out(3L) == (None, 0L))
    assert(out(1L)._2 == 3L && math.abs(out(1L)._1.get - d1) < 1e-12)
    assert(out(2L)._2 == 1L &&
      math.abs(out(2L)._1.get - math.log(pCgivenA)) < 1e-12)
    // external reference model: unseen bigram AND context back off to
    // pure smoothing mass
    val ext = graft.ops.TextAnalysis.bigramLmScore(
        Seq((9L, "q q")).toDF("doc_id", "text"), modelDocs = Some(docs))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ext(9L) - math.log(0.5 / (0 + 0.5 * 4))) < 1e-12)
    // the real corpus: every scored doc has a finite negative score
    val real = graft.ops.TextAnalysis.bigramLmScore(
      spark.read.parquet(s"${graft.TestSpark.sfDir}/documents.parquet"))
    val scores = real.where("lm_score is not null")
      .select("lm_score").collect().map(_.getDouble(0))
    assert(scores.nonEmpty && scores.forall(v => v < 0 && !v.isInfinite))
    // an EMPTY model raises in-plan instead of scoring +Infinity
    val emptyModel = Seq((1L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val bad = graft.ops.TextAnalysis.bigramLmScore(
      docs, modelDocs = Some(emptyModel))
    val err = intercept[Exception](bad.collect())
    assert(err.getMessage.contains("no tokens") ||
      Option(err.getCause).exists(_.getMessage.contains("no tokens")))
  }

  test("hash negatives: ring walk matches a local md5 replay") {
    import spark.implicits._
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val ids = (1L to 200L).toSeq
    val ring = ids.map(id => md5hex(id.toString) -> id)
    val expected = (for {
      id <- ids; j <- 1 to 2
      t = md5hex(s"$id|$j")
      shard = ring.filter(_._1.take(1) == t.take(1))
      if shard.nonEmpty
      best = shard.filter(_._1 <= t) match {
        case Seq() => shard.maxBy(_._1)._2 // wraparound to shard max
        case below => below.maxBy(_._1)._2
      }
      if best != id // self-draws filtered
    } yield (id, j.toLong, best)).toSet
    val out = graft.ops.Sampling.hashNegatives(
        ids.toDF("doc_id"), "doc_id", 2, shardHexChars = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == expected && out.size > 350)
    // duplicate ids collapse on the ring (distinct contract)
    val dup = graft.ops.Sampling.hashNegatives(
      (ids ++ ids).toDF("doc_id"), "doc_id", 1, shardHexChars = 1)
    assert(dup.count() == graft.ops.Sampling.hashNegatives(
      ids.toDF("doc_id"), "doc_id", 1, shardHexChars = 1).count())
    intercept[IllegalArgumentException](
      graft.ops.Sampling.hashNegatives(ids.toDF("doc_id"), "doc_id", 0))
  }

  test("knn graph: cell-bounded top-k neighbors, hand-computed") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1f, 0f), 0),
      (2L, Seq(0.8f, 0.6f), 0),
      (3L, Seq(0f, 1f), 0),
      (4L, Seq(1f, 0f), 1) // alone in its cell: no edges
    ).toDF("vec_id", "embedding", "cell")
    val out = graft.ops.Similarity.knnGraphFrom(emb, 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // cos(1,2)=0.8, cos(1,3)=0, cos(2,3)=0.6
    assert(out == Map(
      (1L, 1L) -> (2L, 0.8), (1L, 2L) -> (3L, 0.0),
      (2L, 1L) -> (1L, 0.8), (2L, 2L) -> (3L, 0.6),
      (3L, 1L) -> (2L, 0.6), (3L, 2L) -> (1L, 0.0)))
    // trained path: edges stay within k-means cells, ranks are 1..k
    val real = spark.read.parquet(s"${graft.TestSpark.sfDir}/embeddings.parquet")
    val g = graft.ops.Similarity.knnGraph(real, 3, cells = 4)
    val cells = graft.ops.Similarity.ivfBuild(real, 4)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val edges = g.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(edges.nonEmpty)
    edges.foreach { case (src, dst, rnk) =>
      assert(cells(src) == cells(dst) && rnk >= 1 && rnk <= 3)
    }
    val bySrc = edges.groupBy(_._1)
    bySrc.values.foreach(es =>
      assert(es.map(_._3).sorted.toSeq == (1L to es.size).toSeq))
  }

  test("hard negatives: top-k cross-label neighbors, hand-computed") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1f, 0f), Option("A"), 0),
      (2L, Seq(2f, 1f), Option("A"), 0),
      (3L, Seq(0f, 1f), Option("B"), 0),
      (4L, Seq(1f, 1f), Option("B"), 0),
      (5L, Seq(1f, 1f), Option.empty[String], 0), // NULL label: excluded
      (6L, Seq(0f, 0f), Option("B"), 0),          // zero vector: excluded
      (7L, Seq(1f, 0f), Option("A"), 1),          // cell 1: both label A
      (8L, Seq(3f, 0f), Option("A"), 1)           //   -> no cross-label edges
    ).toDF("vec_id", "embedding", "label", "cell")
    val out = graft.ops.Similarity.hardNegatives(emb, 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(5)) ->
        (r.getString(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toMap
    // cross-label cosines in cell 0: (1,3)=0, (1,4)=1/sqrt2,
    // (2,3)=1/sqrt5, (2,4)=3/sqrt10
    assert(out == Map(
      (1L, 1L) -> ("A", 4L, "B", 0.707107), (1L, 2L) -> ("A", 3L, "B", 0.0),
      (2L, 1L) -> ("A", 4L, "B", 0.948683), (2L, 2L) -> ("A", 3L, "B", 0.447214),
      (3L, 1L) -> ("B", 2L, "A", 0.447214), (3L, 2L) -> ("B", 1L, "A", 0.0),
      (4L, 1L) -> ("B", 2L, "A", 0.948683), (4L, 2L) -> ("B", 1L, "A", 0.707107)),
      out.toString)
    // same-label pairs never appear; k truncates
    val k1 = graft.ops.Similarity.hardNegatives(emb, 1).collect()
    assert(k1.length == 4 && k1.forall(_.getLong(5) == 1L))
    k1.foreach(r => assert(r.getString(1) != r.getString(3)))
  }

  test("knn classify: majority vote of labeled cell-mates, hand-computed") {
    import spark.implicits._
    val labeled = Seq(
      (1L, Seq(1f, 0f), "A", 0),
      (2L, Seq(4f, 1f), "A", 0),
      (3L, Seq(0f, 1f), "B", 0),
      (4L, Seq(1f, 4f), "B", 0),
      (5L, Seq(0f, 0f), "A", 1)  // zero vector: excluded
    ).toDF("vec_id", "embedding", "label", "cell")
    val unlabeled = Seq(
      (10L, Seq(1f, 0f), 0),
      (11L, Seq(0f, 1f), 0),
      (12L, Seq(1f, 1f), 0),
      (20L, Seq(1f, 0f), 1),     // cell 1 has no usable labeled vecs
      (21L, Seq(0f, 0f), 0)      // zero-norm query: NULL prediction
    ).toDF("vec_id", "embedding", "cell")
    def run(k: Int) = graft.ops.Similarity
      .knnClassify(labeled, unlabeled, k)
      .collect()
      .map(r => r.getLong(0) ->
        (Option(r.getString(1)), r.getLong(2), r.getLong(3))).toMap
    // k=3: u10 top3 = l1(A) 1.0, l2(A) .970143, l4(B) .242536 -> A 2/3
    //      u11 top3 = l3(B) 1.0, l4(B) .970143, l2(A) .242536 -> B 2/3
    //      u12 top3 = l2(A) .857493, l4(B) .857493 (lid tie-break),
    //                 l1(A) .707107 -> A 2/3
    assert(run(3) == Map(
      10L -> (Some("A"), 2L, 3L), 11L -> (Some("B"), 2L, 3L),
      12L -> (Some("A"), 2L, 3L), 20L -> (None, 0L, 0L),
      21L -> (None, 0L, 0L)), run(3).toString)
    // k=2: u12's top2 = l2(A), l4(B) — a 1-1 vote tie breaks to the
    // smallest label
    assert(run(2)(12L) == ((Some("A"), 1L, 2L)))
    // k larger than the cell population: k_used caps at what exists
    assert(run(9)(10L)._3 == 4L)
  }

  test("dsir weights: exact replay of the smoothed log-ratio fold") {
    import spark.implicits._
    val target = Seq((100L, "spark window join window"),
      (101L, "window agg window")).toDF("doc_id", "text")
    val source = Seq((200L, "row scan row scan table"),
      (201L, "scan scan batch")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "window join window"),    // target-flavored
      (2L, "scan row scan"),         // source-flavored
      (3L, "zzz qqq"),               // fully OOV both models
      (4L, null.asInstanceOf[String]) // no features
    ).toDF("doc_id", "text")
    val B = 65536
    val k = 0.5
    val out = graft.ops.Sampling.dsirWeights(docs, target, source, B, k)
      .collect()
      .map(r => r.getLong(0) ->
        (Option(r.getAs[Any]("dsir_logw")).map(_.asInstanceOf[Double]),
          r.getAs[Long]("n_feats")))
      .toMap
    // Scala-side replay: same tokenization (unigrams + bigrams of the
    // filtered split), same md5-prefix bucket, same formula
    def grams(t: String): Seq[String] = {
      val w = t.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
      w ++ w.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    def bucket(g: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map(b => f"$b%02x").mkString, 16) % B
    }
    val tc = Seq("spark window join window", "window agg window")
      .flatMap(grams).groupBy(bucket).map { case (b, g) => b -> g.size.toLong }
    val sc = Seq("row scan row scan table", "scan scan batch")
      .flatMap(grams).groupBy(bucket).map { case (b, g) => b -> g.size.toLong }
    val (nt, ns) = (tc.values.sum, sc.values.sum)
    def logw(t: String): Double =
      grams(t).groupBy(bucket).map { case (b, g) =>
        g.size *
          (math.log((tc.getOrElse(b, 0L) + k) / (nt + k * B)) -
           math.log((sc.getOrElse(b, 0L) + k) / (ns + k * B)))
      }.sum
    for (id <- Seq(1L, 2L, 3L)) {
      val txt = Map(1L -> "window join window", 2L -> "scan row scan",
        3L -> "zzz qqq")(id)
      assert(math.abs(out(id)._1.get - logw(txt)) < 1e-12,
        s"doc $id: ${out(id)._1.get} vs ${logw(txt)}")
      assert(out(id)._2 == grams(txt).size)
    }
    // the directional contract: target-flavored above source-flavored
    assert(out(1L)._1.get > 0 && out(2L)._1.get < 0)
    assert(out(1L)._1.get > out(3L)._1.get)
    // fully-OOV text folds pure smoothing mass: log((k/(nt+kB)) /
    // (k/(ns+kB))) per feature — nonzero iff nt <> ns
    assert(math.abs(out(3L)._1.get -
      grams("zzz qqq").size *
        (math.log(k / (nt + k * B)) - math.log(k / (ns + k * B)))) < 1e-12)
    // no features: NULL weight, zero count
    assert(out(4L) == ((None, 0L)))
    // parts layer: integers agree with the replay on one doc
    val p = graft.ops.Sampling.dsirParts(docs, target, source, B)
      .collect().map(r => r.getLong(0) -> r).toMap
    val g1 = grams("window join window").groupBy(bucket)
    assert(p(1L).getAs[Long]("n_feats") == grams("window join window").size)
    assert(p(1L).getAs[Long]("sum_t") ==
      g1.map { case (b, g) => g.size * tc.getOrElse(b, 0L) }.sum)
    assert(p(1L).getAs[Long]("n_oov_s") ==
      g1.collect { case (b, g) if !sc.contains(b) => g.size.toLong }.sum)
    assert(p(1L).getAs[Long]("nt") == nt && p(1L).getAs[Long]("ns") == ns)
  }

  test("dsir parts self-split is row-identical to the generic lowering (r12)") {
    import spark.implicits._
    // odd doc counts + OOV + null text + all-empty tokens exercise
    // every arm: both sides, unseen buckets, zero-feature rows
    val docs = Seq(
      (0L, "window join window"), (1L, "scan row scan table"),
      (2L, "zzz qqq"), (3L, "window agg scan"), (4L, " "),
      (5L, null.asInstanceOf[String]), (6L, "join join join scan"),
      (7L, "batch")).toDF("doc_id", "text")
    for (b <- Seq(4, 512)) { // tiny B forces real bucket collisions
      val generic = graft.ops.Sampling.dsirParts(
        docs, docs.filter("doc_id % 3 = 0"),
        docs.filter("doc_id % 3 <> 0"), b)
      val self = graft.ops.Sampling.dsirPartsSelf(docs, "doc_id % 3 = 0", b)
      assert(self.columns.toSeq == generic.columns.toSeq)
      val g = generic.collect().map(r => r.getLong(0) -> r.toSeq).toMap
      val s = self.collect().map(r => r.getLong(0) -> r.toSeq).toMap
      assert(s == g)
    }
  }

  test("reliable Materialize path (spark.graft.checkpointDir) matches " +
      "local and writes checkpoint files (r13)") {
    import spark.implicits._
    val docs = Seq(
      (0L, "window join window"), (1L, "scan row scan table"),
      (2L, "zzz qqq"), (3L, "window agg scan"),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val local = graft.ops.Sampling.dsirPartsSelf(docs, "doc_id % 2 = 0", 64)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mat_ckpt").toString
    spark.conf.set(graft.ops.Materialize.ConfKey, dir)
    try {
      val reliable = graft.ops.Sampling
        .dsirPartsSelf(docs, "doc_id % 2 = 0", 64)
        .collect().map(r => r.getLong(0) -> r.toSeq).toMap
      assert(reliable == local)
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .count() > 1
      assert(wrote, "no reliable checkpoint files written")
    } finally spark.conf.unset(graft.ops.Materialize.ConfKey)
  }

  test("soft dedup weights: 1/group size for members, 1.0 for singletons") {
    val docs = spark.read.parquet(s"${graft.TestSpark.sfDir}/documents.parquet")
    val w = graft.ops.Dedup.softDedupWeights(docs, 0.5)
      .collect()
      .map(r => r.getLong(0) ->
        (Option(r.getAs[Any]("group_id")).map(_.asInstanceOf[Long]),
          r.getAs[Double]("weight")))
      .toMap
    assert(w.size == docs.count())
    val groups = graft.ops.Dedup.duplicateGroups(docs, 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups.nonEmpty) // the corpus plants near-duplicates
    val sizes = groups.groupBy(_._2).map { case (g, m) => g -> m.size }
    w.foreach { case (id, (grp, weight)) =>
      grp match {
        case Some(g) =>
          assert(groups(id) == g)
          assert(math.abs(weight - 1.0 / sizes(g)) < 1e-15)
        case None =>
          assert(!groups.contains(id) && weight == 1.0)
      }
    }
    // each group's total mass is exactly 1.0 content unit
    val byGroup = w.values.collect { case (Some(g), wt) => g -> wt }
      .groupBy(_._1).map { case (g, ws) => ws.map(_._2).sum }
    byGroup.foreach(tot => assert(math.abs(tot - 1.0) < 1e-12))
  }

  test("exact-substring removal drops later occurrences token-granular") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e x y z"),          // all 5 spans original
      (2L, "q a b c d e r s"),          // spans 2-3 duplicate doc 1 -> cover [2,6]
      (3L, "a b c d e x y z"),          // identical to doc 1 -> cover [1,8]
      (4L, "too short"),                // < n tokens: unchanged
      (5L, null.asInstanceOf[String]),  // NULL stays NULL
      (6L, "m n o p m n o p m n o p"),  // within-doc repeats -> cover [5,12]
      (7L, "A B C D E x2"),             // lowercased match, case preserved
      (8L, "p1  p2 p3 p4 p5")           // untouched: whitespace kept verbatim
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.removeDuplicateSpans(docs, 4)
      .collect()
      .map(r => r.getLong(0) ->
        (Option(r.getAs[String]("text")), r.getAs[Long]("n_removed")))
      .toMap
    assert(out == Map(
      1L -> (Some("a b c d e x y z"), 0L),
      2L -> (Some("q r s"), 5L),
      3L -> (Some(""), 8L),
      4L -> (Some("too short"), 0L),
      5L -> (None, 0L),
      6L -> (Some("m n o p"), 8L),
      7L -> (Some("x2"), 5L),
      8L -> (Some("p1  p2 p3 p4 p5"), 0L)))
    // reserved helper-name collision fails loudly
    val err = intercept[IllegalArgumentException] {
      graft.ops.Dedup.removeDuplicateSpans(
        Seq((1L, "x", 0)).toDF("doc_id", "text", "__starts"), 4)
    }
    assert(err.getMessage.contains("__starts"))
  }

  test("paragraph dedup drops later normalized occurrences, keeps structure") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta\ngamma\ndelta"),      // all first occurrences
      (2L, "Gamma \nepsilon\nalpha beta"),   // both dup doc 1 (case+trim)
      (3L, "x\nepsilon\nx"),                 // short 'x' never dedups; epsilon dups doc 2
      (4L, "gamma\nGAMMA"),                  // both dup doc 1 -> empty rewrite
      (5L, null.asInstanceOf[String]),       // NULL stays NULL
      (6L, "zeta  two  spaces")              // untouched: byte-for-byte
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.dedupParagraphs(docs, "\n", 2)
      .collect()
      .map(r => r.getLong(0) ->
        (Option(r.getAs[String]("text")), r.getAs[Long]("n_removed")))
      .toMap
    assert(out == Map(
      1L -> (Some("alpha beta\ngamma\ndelta"), 0L),
      2L -> (Some("epsilon"), 2L),
      3L -> (Some("x\nx"), 1L),
      4L -> (Some(""), 2L),
      5L -> (None, 0L),
      6L -> (Some("zeta  two  spaces"), 0L)), out.toString)
    // a within-doc repeat keeps only its first occurrence
    val within = graft.ops.Dedup.dedupParagraphs(
      Seq((1L, "p\nq\np\np")).toDF("doc_id", "text"), "\n", 1)
      .collect().map(r => (r.getString(1), r.getLong(2))).head
    assert(within == ("p\nq", 2L), within.toString)
    // minChars=1 still skips paragraphs that normalize to EMPTY
    // (blank lines survive and the doc reassembles around them)
    val blanks = graft.ops.Dedup.dedupParagraphs(
      Seq((1L, "a\n\nb"), (2L, "c\n\nd")).toDF("doc_id", "text"), "\n", 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(blanks == Map(1L -> "a\n\nb", 2L -> "c\n\nd"), blanks.toString)
    // reserved helper-name collision fails loudly
    val err = intercept[IllegalArgumentException] {
      graft.ops.Dedup.dedupParagraphs(
        Seq((1L, "x", 0)).toDF("doc_id", "text", "__drops"), "\n")
    }
    assert(err.getMessage.contains("__drops"))
  }

  test("scd2 chains validity intervals per key, current row open-ended") {
    import spark.implicits._
    val log = Seq(("k1", 100L, "v1"), ("k1", 200L, "v2"), ("k1", 300L, "v3"),
                  ("k2", 150L, "w1"))
      .toDF("k", "t", "v")
    val out = graft.ops.Export.scd2(log, "k", "t")
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("valid_from"),
        Option(r.getAs[Any]("valid_to")), r.getAs[Boolean]("is_current")))
      .toSet
    assert(out == Set(
      ("k1", 100L, Some(200L), false),
      ("k1", 200L, Some(300L), false),
      ("k1", 300L, None, true),
      ("k2", 150L, None, true)))
  }

  test("scd2 rejects duplicate (key, ts) — zero-width interval") {
    import spark.implicits._
    val log = Seq(("k", 100L, "a"), ("k", 100L, "b")).toDF("k", "t", "v")
    val e = intercept[Exception] {
      graft.ops.Export.scd2(log, "k", "t").collect()
    }
    assert(e.getMessage.contains("zero-width")
      || Option(e.getCause).exists(_.getMessage.contains("zero-width")))
  }

  test("corpus overlap: identical corpora 1.0, disjoint 0.0, subset exact") {
    import spark.implicits._
    def corpus(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val a = corpus((1L, "the quick brown fox jumps over the lazy dog"),
                   (2L, "pack my box with five dozen liquor jugs"))
    val same = graft.ops.Dedup.corpusOverlap(a, a, 64).collect().head
    assert(same.getAs[Double]("jaccard_est") == 1.0)
    val b = corpus((3L, "completely different words in this sentence here"))
    val disj = graft.ops.Dedup.corpusOverlap(a, b, 64).collect().head
    assert(disj.getAs[Double]("jaccard_est") == 0.0)
    // k >= |union|: the estimate IS the exact jaccard. a has 13
    // distinct 3-gram shingles (7 + 6), a∪b has 19, a∩b = 7
    val sub = corpus((1L, "the quick brown fox jumps over the lazy dog"))
    val est = graft.ops.Dedup.corpusOverlap(a, sub, 64).collect().head
    assert(est.getAs[Long]("k_union") == 13L)
    assert(est.getAs[Long]("n_both") == 7L)
    assert(est.getAs[Double]("jaccard_est") == math.rint(7.0 / 13.0 * 1e4) / 1e4)
  }

  test("two-stage retrieval equals brute force when candidates cover the corpus") {
    import spark.implicits._
    // 24 deterministic 8-dim vectors; mult*k >= N makes stage 1
    // candidate-complete, so stage 2 must reproduce brute force
    val emb = (0 until 24).map { i =>
      (i.toLong, (0 until 8).map(j => ((i * 31 + j * 17) % 13 - 6).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val brute = graft.ops.Similarity.bruteForceTopK(emb, "vec_id < 4", 3)
    val two = graft.ops.Similarity.twoStageTopK(emb, "vec_id < 4",
      d = 8, k = 3, mult = 8)
    assertSameRows(two, brute)
    // with a tight multiplier the result is still k rows per query,
    // drawn from the coarse survivors
    val tight = graft.ops.Similarity.twoStageTopK(emb, "vec_id < 4",
      d = 2, k = 3, mult = 1)
    val counts = tight.groupBy("query_id").count().collect()
    assert(counts.length == 4 && counts.forall(_.getLong(1) == 3L))
  }

  test("corpus overlap sketch size is capped at k") {
    import spark.implicits._
    // 40 distinct single-word docs per side, k=8: sketches hold 8
    // hashes, the union sample holds 8, estimate stays in [0,1]
    val a = (0 until 40).map(i => (i.toLong, s"worda$i wordb$i wordc$i"))
      .toDF("doc_id", "text")
    val b = (0 until 40).map(i => (i.toLong, s"wordx$i wordy$i wordz$i"))
      .toDF("doc_id", "text")
    val sk = graft.ops.Dedup.shingleSketch(a, 8)
    assert(sk.count() == 8)
    val est = graft.ops.Dedup.corpusOverlap(a, b, 8).collect().head
    assert(est.getAs[Long]("k_union") == 8L)
    assert(est.getAs[Long]("n_both") == 0L)
  }

  // ---- score calibration + budget selection (r7) ----------------------

  test("score calibration ranks within groups with tie sharing") {
    import spark.implicits._
    val t = Seq(("a", 1L, 10), ("a", 2L, 20), ("a", 3L, 20), ("a", 4L, 40),
        ("b", 5L, 7)).toDF("g", "id", "score")
    val r = Curation.calibrateScores(t, "g", "score").collect()
      .map(x => x.getLong(1) -> ((x.getDouble(3), x.getDouble(4)))).toMap
    assert(r(1L) == ((0.0, 0.25)))
    assert(r(2L)._1 == r(3L)._1 && r(2L)._1 == 1.0 / 3)  // tied pct
    assert(r(2L)._2 == 0.75 && r(3L)._2 == 0.75)         // tied cume
    assert(r(4L) == ((1.0, 1.0)))
    assert(r(5L) == ((0.0, 1.0)))                        // singleton group
    // one exchange: the group-key window shuffle
    val p = Curation.calibrateScores(documents, "lang", "n_chars")
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      p.take(2000))
  }

  test("budget selection keeps the best prefix, overshooting at most one doc") {
    import spark.implicits._
    import org.apache.spark.sql.{functions => F}
    val t = Seq((1L, 50L), (2L, 30L), (3L, 30L), (4L, 10L), (5L, 5L))
      .toDF("id", "w")
    def kept(budget: Long): Seq[Long] =
      Curation.budgetSelect(t, "w", budget,
          Seq(F.col("w").desc, F.col("id").asc))
        .collect().map(_.getLong(0)).toSeq.sorted
    assert(kept(50) == Seq(1L))            // prior of id=2 is 50, not < 50
    assert(kept(51) == Seq(1L, 2L))        // overshoot by one allowed
    assert(kept(80) == Seq(1L, 2L))
    assert(kept(81) == Seq(1L, 2L, 3L))
    assert(kept(1000) == Seq(1L, 2L, 3L, 4L, 5L))
    // null weights carry zero mass and never block later docs
    val withNull = t.union(Seq((6L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "w").select(F.col("id"), F.col("w").cast("long")))
    val k = Curation.budgetSelect(withNull, "w", 81,
        Seq(F.col("w").desc, F.col("id").asc))
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(k.contains(3L), k.toString)
  }

  test("bucketed budget selection equals the exact tier (r8)") {
    import org.apache.spark.sql.{functions => F}
    // seeded pseudo-random scores/weights with deliberate TIES, a
    // null score and a null weight; compare KEPT ID SETS across
    // budgets and FORCED TINY bucket counts (1 = everything is the
    // straddling bucket, so the boundary path IS the exact path)
    val t = spark.range(200).selectExpr(
      "id",
      "case when id = 7 then cast(null as double) " +
      "     else cast(xxhash64(id) % 37 as double) end as score",
      "case when id = 11 then cast(null as bigint) " +
      "     else abs(xxhash64(id, 1L)) % 50 + 1 end as w")
    def exact(budget: Long): Seq[Long] =
      Curation.budgetSelect(t, "w", budget,
          Seq(F.col("score").desc_nulls_last, F.col("id").asc))
        .collect().map(_.getLong(0)).toSeq.sorted
    def bucketed(budget: Long, nb: Int): Seq[Long] =
      Curation.budgetSelectBucketed(t, "w", budget, "score", "id", nb)
        .collect().map(_.getLong(0)).toSeq.sorted
    for (budget <- Seq(1L, 37L, 500L, 2000L, 4800L, 100000L);
         nb <- Seq(1, 2, 3, 7, 1000)) {
      assert(bucketed(budget, nb) == exact(budget),
        s"budget=$budget buckets=$nb")
    }
    // the bucketed plan's only single-partition window runs over the
    // bucket-TOTALS table (≤ buckets+1 rows); the corpus-sized
    // boundary window partitions BY bucket id
    val plan = Curation.budgetSelectBucketed(t, "w", 500L, "score", "id", 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__bkt"), plan.take(3000))
  }

  // ---- BM25 retrieval (r7) --------------------------------------------

  test("bm25 matches hand-computed scores, ranks, and term counts") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "c c c c"))
      .toDF("doc_id", "text")
    val q = Seq((10L, "a b"), (20L, "zzz")).toDF("query_id", "terms")
    val r = TextAnalysis.bm25TopK(docs, q, 5).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getDouble(2), x.getLong(3), x.getInt(4)))).toMap
    // N=3, avgdl=3; idf(a)=(3-2+.5)/2.5=0.6, idf(b)=2.5/1.5
    // d1: 0.6*4.4/3.2 + (2.5/1.5)*2.2/2.2 = 0.825 + 1.666667
    assert(math.abs(r((10L, 1L))._1 - 2.491667) < 1e-6, r.toString)
    assert(r((10L, 1L))._2 == 2L && r((10L, 1L))._3 == 1)
    // d2: 0.6*2.2/(1 + 1.2*(0.25 + 0.75*2/3)) = 0.694737
    assert(math.abs(r((10L, 2L))._1 - 0.694737) < 1e-6, r.toString)
    assert(r((10L, 2L))._3 == 2)
    // d3 matches nothing; query 20 matches nothing at all
    assert(r.size == 2, r.toString)
    // plan: no cartesian; query terms and df broadcast
    val p = TextAnalysis.bm25TopK(documents.limit(500), q, 5)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // r8 (r7 ADVICE): a term appearing in SEVERAL queries must keep
    // df = distinct matching docs, not df × queries — scores for a
    // query are invariant to other queries sharing its terms
    val qShared = Seq((10L, "a b"), (20L, "zzz"), (30L, "a"), (40L, "a c"))
      .toDF("query_id", "terms")
    val rs = TextAnalysis.bm25TopK(docs, qShared, 5).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getDouble(2), x.getLong(3), x.getInt(4)))).toMap
    assert(rs((10L, 1L)) == r((10L, 1L)), s"$rs vs $r")
    assert(rs((10L, 2L)) == r((10L, 2L)), s"$rs vs $r")
  }

  // ---- time-series resample (r7b) -------------------------------------

  test("resample materializes gaps; zero/null/ffill fills; span per key") {
    import spark.implicits._
    val t = Seq((1L, 10L, 1.0), (1L, 12L, 2.0), (1L, 45L, 4.0),
      (2L, 100L, 9.0)).toDF("k", "ts", "v")
    def run(fill: String): Map[(Long, Long), (Long, Any)] =
      TimeSeries.resample(t, "k", "ts", "v", 10L, fill).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3))))
        .toMap
    // key 1 spans buckets 1..4 (ts 10..45): bucket 1 has two events,
    // 2 and 3 are GAPS, 4 has one; key 2 has a single bucket
    val ff = run("ffill")
    assert(ff.keySet == Set((1L, 10L), (1L, 20L), (1L, 30L), (1L, 40L),
      (2L, 100L)))
    assert(ff((1L, 10L)) == ((2L, 3.0)))
    assert(ff((1L, 20L)) == ((0L, 3.0)), "gap forward-fills")
    assert(ff((1L, 30L)) == ((0L, 3.0)))
    assert(ff((1L, 40L)) == ((1L, 4.0)), "own value wins over the fill")
    assert(run("zero")((1L, 20L)) == ((0L, 0.0)))
    assert(run("null")((1L, 20L)) == ((0L, null)))
    // leading gaps (no earlier value) stay NULL under ffill
    val lead = TimeSeries.resample(
      Seq[(Long, Long, java.lang.Double)]((1L, 10L, null), (1L, 25L, 5.0))
        .toDF("k", "ts", "v"), "k", "ts", "v", 10L, "ffill").collect()
      .map(r => r.getLong(1) -> r.isNullAt(3)).toMap
    assert(lead(10L), "bucket with only null values stays null")
    // plan: spine explode + co-keyed join, no cartesian
    val p = TimeSeries.resample(events(spark), "user_id", "t", "value",
        3600000000L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  private def events(s: org.apache.spark.sql.SparkSession): DataFrame = {
    val ev = s.read.parquet(s"${TestSpark.sfDir}/events.parquet")
    val t = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => "ts div 1000"
      case _ => "unix_micros(cast(ts as timestamp))"
    }
    ev.selectExpr("user_id", s"$t as t", "value")
  }

  // ---- model-based quality gate (r7b) ---------------------------------

  test("quality gate: fixed-weight margins exact; training recovers a planted signal") {
    import spark.implicits._
    // hand-check one margin against the feature frame
    val f = Quality.gateFeatures(documents.limit(50)).collect().head
    val scored = Quality.scoreGate(documents.limit(50), 2.0, -3.0, 1.5, -0.8)
      .collect().find(_.getLong(0) == f.getLong(0)).get
    val expect = -0.8 + f.getDouble(1) * 2.0 + f.getDouble(2) * -3.0 +
      f.getDouble(3) * 1.5
    assert(scored.getDouble(4) == expect)
    assert(scored.getBoolean(5) == (expect > 0))
    // plant a separable signal: label by the heuristic quality median
    // — the trained linear model must rank positives above negatives
    val q = graft.ops.TextAnalysis.qualityScore(documents.limit(2000))
    val med = q.stat.approxQuantile("quality", Array(0.5), 0.0).head
    val labels = q.selectExpr("doc_id",
      s"cast(quality > $med as double) as label")
    val (w1, w2, w3, b) =
      Quality.trainGate(documents.limit(2000), labels)
    val m = Quality.scoreGate(documents.limit(2000), w1, w2, w3, b)
      .join(labels, "doc_id")
      .groupBy("label").agg(F.avg("margin").as("am"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(m(1.0) > m(0.0),
      s"trained gate failed to separate: $m weights=($w1,$w2,$w3,$b)")
  }

  test("gopher rules: planted fixtures trip each rule independently") {
    import spark.implicits._
    val nl = "\n"
    val docs = Seq(
      // passes everything: 6 words, mean len in band, two stopwords
      (1L, "the quick brown foxes jump with"),
      (2L, "the with"),                             // too few words
      (3L, "a b c d e the"),                        // mean word len < 3
      (4L, "the extraordinarily magnificently overcomplicated terminology"), // mean len > 10
      (5L, "the cats sat down mats ##"),            // symbol ratio 2/6 > 0.1
      (6L, s"- alpha beta gamma$nl- bravo delta epsilon${nl}the end"), // 2/3 bullet lines
      (7L, s"ab cd...${nl}ef gh...${nl}the end here with many more " +
        "words coming now left right up down over under again still " +
        "more words"),                              // 2/3 ellipsis lines, 2/23 symbols
      (8L, "the 123 456 789 000 111"),              // alpha frac 1/6 < 0.8
      (9L, "zzz yyy xxx www vvv uuu"),              // zero stopword hits
      (10L, null.asInstanceOf[String])              // NULL text: keep false
    ).toDF("doc_id", "text")
    val out = Quality.gopherRules(docs, minWords = 3, maxWords = 100,
        minMeanLen = 3.0, maxMeanLen = 10.0, maxSymbolRatio = 0.1,
        maxBulletFrac = 0.5, maxEllipsisFrac = 0.3,
        minAlphaFrac = 0.8, minStopHits = 1)
      .collect().map(r => r.getLong(0) -> r).toMap
    def flags(id: Long): Seq[Boolean] =
      Seq("f_words", "f_mean_len", "f_symbols", "f_bullets",
        "f_ellipsis", "f_alpha", "f_stopwords")
        .map(out(id).getAs[Boolean])
    assert(out(1L).getAs[Boolean]("keep"), out(1L).toString)
    assert(flags(1L).forall(identity))
    // each planted failure trips EXACTLY its own rule
    assert(flags(2L) == Seq(false, true, true, true, true, true, true))
    assert(flags(3L) == Seq(true, false, true, true, true, true, true))
    assert(flags(4L) == Seq(true, false, true, true, true, true, true))
    assert(flags(5L) == Seq(true, true, false, true, true, true, true))
    assert(flags(6L) == Seq(true, true, true, false, true, true, true))
    assert(flags(7L) == Seq(true, true, true, true, false, true, true))
    assert(flags(8L) == Seq(true, true, true, true, true, false, true))
    assert(flags(9L) == Seq(true, true, true, true, true, true, false))
    assert(!out(2L).getAs[Boolean]("keep"))
    assert(!out(10L).getAs[Boolean]("keep") && flags(10L).forall(!_))
    assert(out(10L).isNullAt(out(10L).fieldIndex("n_words")))
    // hand-check the doc-1 metrics
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_words") == 6L)
    assert(r1.getAs[Double]("mean_word_len") ==
      math.rint("thequickbrownfoxesjumpwith".length / 6.0 * 1e6) / 1e6)
    assert(r1.getAs[Long]("n_stop_hits") == 2L) // the, with
    // mean-word-length check on doc 4 (stopword 'the' hits; len high)
    assert(out(4L).getAs[Double]("mean_word_len") > 10.0)
  }

  // ---- edit-distance fuzzy join (r7b) ---------------------------------

  test("edit-distance pairs match brute force; blocking loses nothing") {
    import spark.implicits._
    val t = Seq((1L, "kitten"), (2L, "sitting"), (3L, "kitte"),
      (4L, "mitten"), (5L, "zebra"), (6L, "a"), (7L, "ab"),
      (8L, ""), (9L, null: String)).toDF("id", "s")
    def brute(k: Int): Set[(Long, Long, Int)] = {
      val rows = t.collect().collect {
        case r if !r.isNullAt(1) => (r.getLong(0), r.getString(1))
      }
      (for {
        (i1, s1) <- rows; (i2, s2) <- rows if i1 < i2
        d = {
          val dp = Array.tabulate(s1.length + 1, s2.length + 1) {
            (i, j) => if (i == 0) j else if (j == 0) i else 0 }
          for (i <- 1 to s1.length; j <- 1 to s2.length)
            dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
              dp(i - 1)(j - 1) + (if (s1(i - 1) == s2(j - 1)) 0 else 1))
          dp(s1.length)(s2.length)
        } if d <= k
      } yield (i1, i2, d)).toSet
    }
    for (k <- 1 to 3) {
      val got = Dedup.editDistancePairs(t, "id", "s", k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == brute(k), s"k=$k got=$got expected=${brute(k)}")
    }
    // tier boundary (r8): pairs straddling fastssMaxLen must be found
    // by the PassJoin tier — lengths around a FORCED tiny boundary of
    // 8, with true pairs short-short, short-long and long-long
    val tb = Seq((1L, "aaaabbb"),      // 7 (fastss tier)
                 (2L, "aaaabbbb"),     // 8 (boundary, both tiers)
                 (3L, "aaaabbbbc"),    // 9 (passjoin tier), ed(2,3)=1
                 (4L, "aaaabbbbcc"),   // 10, ed(3,4)=1, ed(2,4)=2
                 (5L, "zzzzzzzzzz")).toDF("id", "s")
    val tbBrute = Set((1L, 2L, 1), (2L, 3L, 1), (3L, 4L, 1), (2L, 4L, 2),
      (1L, 3L, 2))
    val tbGot = Dedup.editDistancePairs(tb, "id", "s", 2, fastssMaxLen = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(tbGot == tbBrute, s"got=$tbGot expected=$tbBrute")
    // k > 3 routes everything through the PassJoin tier — same answer
    val k4 = Dedup.editDistancePairs(t, "id", "s", 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(k4 == brute(4), s"k=4 got=$k4")
    // FastSS selectivity pin (r8): on an aligned-constant-prefix
    // fixture (the q_edit_pairs shape — 12 shared chars mean two of
    // the three PassJoin chunks are CONSTANT across the corpus, so
    // chunk blocking degenerates to ~2× all-pairs) the
    // deletion-neighborhood pairs must stay a small fraction: keys
    // are near-full strings, suffix differences keep them apart.
    // Suffixes are doubled 3-digit codes, so most pairs differ in
    // ≥4 positions and are not deletion-compatible at k=2.
    val adv = spark.range(200).selectExpr("id as __id",
      """concat('Customer#000',
                repeat(substring(lpad(cast(id as string), 3, '0'), 1, 1), 2),
                repeat(substring(lpad(cast(id as string), 3, '0'), 2, 1), 2),
                repeat(substring(lpad(cast(id as string), 3, '0'), 3, 1), 2))
         as __s""")
    val allPairs = 200L * 199 / 2
    val fastssN = Dedup.fastssPairs(adv, 2).count()
    val passJoinN = Dedup.editCandidates(
      adv.selectExpr("__id as id", "__s as s"), "id", "s", 2)
      .select("__id_a", "__id_b").distinct().count()
    assert(passJoinN >= allPairs,
      s"fixture no longer adversarial for chunks: $passJoinN vs $allPairs")
    assert(fastssN < allPairs / 4,
      s"fastss pairs $fastssN vs all-pairs $allPairs (passjoin $passJoinN)")
    // plan: no cartesian product — the candidate join is a hash join
    // on the chunk content
    val p = Dedup.editDistancePairs(
        documents.limit(2000).selectExpr("doc_id", "substring(text, 1, 20) as s"),
        "doc_id", "s", 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("bpe greedy longest-match: hand-computed tokens and counts") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val vocab = "array('table', 'tab', 'ab', 'le', 'a', ' ')"
    def toks(s: String): Seq[String] =
      Seq(Tuple1(s)).toDF("t")
        .selectExpr(s"graft_bpe_tokens(t, $vocab) as x")
        .collect()(0).getSeq[String](0)
    def cnt(s: String): Long =
      Seq(Tuple1(s)).toDF("t")
        .selectExpr(s"graft_bpe_count(t, $vocab) as x")
        .collect()(0).getLong(0)
    // longest match wins: "table" consumes as one token, not tab+le
    assert(toks("table") == Seq("table"))
    // "tab" + unknown 'z' + "le"
    assert(toks("tabzle") == Seq("tab", "z", "le"))
    // greedy never backtracks: without 'table' in the vocab, 'tab'
    // wins over the globally-better a+b+le split
    val v2 = "array('tab', 'ab', 'le', 'a', 'b', 'l', 'e')"
    val t2 = Seq(Tuple1("table")).toDF("t")
      .selectExpr(s"graft_bpe_tokens(t, $v2) as x")
      .collect()(0).getSeq[String](0)
    assert(t2 == Seq("tab", "le"), t2)
    // unknown multi-byte codepoint consumes as ONE token
    assert(toks("a€b") == Seq("a", "€", "b"))
    assert(cnt("table tab x") == 5L)
    assert(toks("table tab x") == Seq("table", " ", "tab", " ", "x"))
    assert(cnt("") == 0L)
    // differential vs Spark's own regex alternation (same semantics:
    // longest-first alternation + (?s). fallback, leftmost scan)
    val docs = documents.limit(300)
    val vlit = graft.ops.TextAnalysis.DemoVocab
      .map(v => s"'$v'").mkString("array(", ", ", ")")
    val re = "(?s)" + graft.ops.TextAnalysis.DemoVocab.mkString("|") + "|."
    val bad = docs.selectExpr(
        s"graft_bpe_count(lower(text), $vlit) as a",
        s"size(regexp_extract_all(lower(text), '$re', 0)) as b")
      .filter("a <> b")
    assert(bad.count() == 0, bad.collect().take(3).mkString(","))
    // walls: empty vocab entry, non-foldable vocab
    intercept[Exception](Seq(Tuple1("x")).toDF("t")
      .selectExpr("graft_bpe_count(t, array('a', ''))").collect())
    intercept[Exception](Seq(Tuple1("x")).toDF("t")
      .selectExpr("graft_bpe_count(t, array(t))").collect())
  }

  test("learnBpeVocab: hand-computed merge sequence, determinism, encoder fit") {
    import spark.implicits._
    // word freqs: aaab x3, aab x2. Pair counts: (a,a)=8, (a,b)=5 ->
    // merge aa; then (a,b)=3 ties (aa,a)=3, lexicographic tiebreak
    // picks (a,b) -> ab; then (aa,ab)=3 beats (aa,b)=2 -> aaab.
    val docs = Seq((1L, "aaab aaab aaab aab aab")).toDF("doc_id", "text")
    val v = TextAnalysis.learnBpeVocab(docs, 3)
    assert(v == Seq("a", "b", "aa", "ab", "aaab"), v)
    // numMerges beyond exhaustion stops cleanly
    assert(TextAnalysis.learnBpeVocab(docs, 100).contains("aab"))
    // the learned vocab drives the encoder: "aaab" is ONE token
    val cnt = TextAnalysis.bpeCount(docs, v).collect()(0).getLong(1)
    assert(cnt == 3 + 2 * 2 + 4, cnt) // 3x aaab(1) + 2x aab(aa+b) + 4 spaces
    // corpus run is deterministic call-to-call
    val a1 = TextAnalysis.learnBpeVocab(documents.limit(200), 10)
    val a2 = TextAnalysis.learnBpeVocab(documents.limit(200), 10)
    assert(a1 == a2 && a1.nonEmpty)
  }

  test("bpe vocab entries with quotes/backslashes survive the SQL literal (r9)") {
    import spark.implicits._
    // Spark's lexer reads 'don''t' as TWO adjacent literals
    // concatenated ('dont'), silently altering the vocab entry — the
    // r8 ADVICE fix backslash-escapes instead
    val docs = Seq((1L, "don't stop")).toDF("doc_id", "text")
    val v = Seq("don't", "stop", "d", "o", "n", "t", "s", "p", "'", " ")
    val toks = TextAnalysis.bpeTokens(docs, v).collect()(0)
      .getSeq[String](1)
    assert(toks.head == "don't", toks)
    assert(toks == Seq("don't", " ", "stop"), toks)
    // a backslash in a vocab entry round-trips too
    val docs2 = Seq((1L, """a\b""")).toDF("doc_id", "text")
    val v2 = Seq("""a\b""", "a", "b", "\\")
    val toks2 = TextAnalysis.bpeTokens(docs2, v2).collect()(0)
      .getSeq[String](1)
    assert(toks2 == Seq("""a\b"""), toks2)
  }

  test("packSequences consumes BPE counts as the token budget") {
    val counts = TextAnalysis.bpeCount(documents.limit(100),
      TextAnalysis.DemoVocab)
    val packed = Export.packSequences(counts, "doc_id", "n_bpe",
      budget = 500L, numShards = 4)
    val rows = packed.collect()
    assert(rows.nonEmpty)
    // packSequences's contiguous-fill contract: within a (shard, seq)
    // bucket every doc except the straddler STARTS inside the budget
    val bySeq = rows.groupBy(r => (r.getAs[Long]("shard"), r.getAs[Long]("seq")))
    bySeq.foreach { case (k, rs) =>
      val tokens = rs.sortBy(_.getAs[Int]("seq_pos")).map(_.getAs[Long]("n_bpe"))
      assert(tokens.init.sum < 500L, s"$k ${tokens.mkString(",")}")
    }
  }

  test("deletion neighborhood: hand-computed members, dedupe, edge cases") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    def nb(s: String, k: Int): Seq[String] =
      Seq(Tuple1(s)).toDF("s")
        .selectExpr(s"graft_del_neighborhood(s, $k) as n")
        .collect()(0).getSeq[String](0)
    // "aba" k=1: itself + delete each position ("ba","aa","ab")
    assert(nb("aba", 1) == Seq("aba", "ba", "aa", "ab"))
    // duplicate deletions collapse: "aaa" k=1 -> {aaa, aa}
    assert(nb("aaa", 1) == Seq("aaa", "aa"))
    // k=2 includes depth-2: "ab" k=2 -> {ab, b, a, ""}
    assert(nb("ab", 2) == Seq("ab", "b", "a", ""))
    // k >= len: the empty string appears exactly once
    assert(nb("a", 3) == Seq("a", ""))
    assert(nb("", 2) == Seq(""))
    // count check: distinct deletions of a repeat-free string
    assert(nb("abcdef", 2).length == 1 + 6 + 15)
  }

  // ---- whitening transform (r7b) --------------------------------------

  test("whitening z-scores per dim; zero-std, ragged and null inputs") {
    import spark.implicits._
    // dim 1: {1,3} -> mean 2, std sqrt(2); dim 2: {5,5} -> std 0;
    // dim 3 exists only on the ragged row -> n=1, std NULL
    val t = Seq(
      (1L, Seq(1.0f, 5.0f)),
      (2L, Seq(3.0f, 5.0f, 9.0f)),
      (3L, null: Seq[Float])).toDF("vec_id", "embedding")
    val r = Similarity.whiten(t).collect()
      .map(x => x.getLong(0) ->
        (if (x.isNullAt(2)) null else x.getSeq[Any](2))).toMap
    val s2 = math.sqrt(2.0)
    assert(r(3L) == null)
    val w1 = r(1L); val w2 = r(2L)
    assert(math.abs(w1(0).asInstanceOf[Double] - (-1.0 / s2)) < 1e-12)
    assert(w1(1) == null, "zero-std dim must whiten to NULL")
    assert(math.abs(w2(0).asInstanceOf[Double] - (1.0 / s2)) < 1e-12)
    assert(w2(2) == null, "n=1 dim (NULL std) must whiten to NULL")
    // parity with an exploded recomputation on real embeddings
    val emb = embeddings.limit(500)
    val viaOp = Similarity.whiten(emb)
      .select($"vec_id", F.posexplode($"whitened").as(Seq("i", "w")))
      .select($"vec_id", $"i", F.round($"w", 6).as("w"))
    val exploded = emb.select($"vec_id",
        F.posexplode($"embedding").as(Seq("i", "x")))
    val st = exploded.groupBy("i")
      .agg(F.avg("x").as("m"), F.stddev_samp("x").as("s"))
    val viaSql = exploded.join(st, Seq("i"))
      .select($"vec_id", $"i",
        F.round(($"x".cast("double") - $"m") / F.nullif($"s", F.lit(0.0)), 6)
          .as("w"))
    assert(viaOp.exceptAll(viaSql).isEmpty && viaSql.exceptAll(viaOp).isEmpty)
    // plan: stats broadcast; the corpus never shuffles
    val p = Similarity.whiten(embeddings)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.linesIterator.exists(_.contains("Exchange hashpartitioning")),
      p.take(3000))
  }

  // ---- histogram profiling (r7b) --------------------------------------

  test("histogram buckets, clipped mass, empty buckets, auto range") {
    import spark.implicits._
    val t = Seq[java.lang.Double](0.0, 1.0, 2.5, 9.999, 10.0, -5.0, 42.0,
      null).toDF("v")
    val h = Quality.histogram(t, "v", 4, 0.0, 10.0).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // w = 2.5; buckets: [0,2.5)→{0,1}, [2.5,5)→{2.5}, [5,7.5)→{},
    // [7.5,10]→{9.999, 10.0 (hi lands in the LAST bucket)}
    assert(h(0L) == ((0.0, 2.5, 2L, 1L, 1L, 1L)), h.toString)
    assert(h(1L) == ((2.5, 5.0, 1L, 1L, 1L, 1L)))
    assert(h(2L)._3 == 0L, "empty bucket must materialize with 0")
    assert(h(3L) == ((7.5, 10.0, 2L, 1L, 1L, 1L)))
    // auto range spends one min/max pass then the same single pass
    val a = Quality.histogramAuto(t, "v", 2).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(a == Map(0L -> 6L, 1L -> 1L), a.toString) // [-5,18.5),[18.5,42]
    // plan: the corpus aggregates ONCE; the spine/outside sides are
    // broadcast, never shuffled corpus-wide
    val p = Quality.histogram(documents, "n_chars", 100, 0, 10000)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.contains("CartesianProduct") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  // ---- snapshot diff (r7b) --------------------------------------------

  test("snapshot diff statuses, duplicate-key multisets, null values") {
    import spark.implicits._
    val o = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, null: String),
      (5L, "x"), (5L, "y"), (6L, "p"), (6L, "p")).toDF("k", "v")
    val n = Seq((2L, "b"), (3L, "C"), (4L, null: String), (7L, "new"),
      (5L, "y"), (5L, "x"), (6L, "p")).toDF("k", "v")
    val r = Curation.snapshotDiff(o, n, Seq("k")).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(
      1L -> "removed", 2L -> "unchanged", 3L -> "changed",
      4L -> "unchanged",        // null values compare null-safely
      5L -> "unchanged",        // multiset equal, order differs
      6L -> "changed",          // duplicate count dropped 2 -> 1
      7L -> "added"), r.toString)
    // plan: two two-phase aggregations + ONE join; the exchange rows
    // are fixed-width summaries, never the documents
    val big = documents.select($"doc_id", $"text")
    val p = Curation.snapshotDiff(big, big.limit(900), Seq("doc_id"))
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_count") || p.contains("partial_"),
      p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  // ---- constraint audit (r7) ------------------------------------------

  test("constraint audit counts every violation kind exactly") {
    import Quality._
    import spark.implicits._
    val t = Seq(
      (Some(1L), Some(10.0), Some("F"), Some("1-URGENT")),
      (Some(1L), Some(-5.0), Some("FF"), Some("9-BOGUS")), // dup + range + format + set
      (None, Some(20.0), None, None),                      // null key
      (Some(3L), None, Some("O"), Some("2-HIGH")),
      (Some(4L), Some(999.0), Some("x"), Some("3-MEDIUM")) // range + format (lowercase)
    ).toDF("k", "price", "status", "prio")
    val dim = Seq(1L, 3L).toDF("ck")
    val r = auditConstraints(t, Seq(
        NotNull("k"), InRange("price", 0.0, 100.0),
        Matches("status", "^[A-Z]$"), InSet("prio",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM")),
        Unique(Seq("k")), RefIntegrity("k", dim, "ck")))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map(
      "not_null(k)" -> 1L, "in_range(price)" -> 2L,
      "matches(status)" -> 2L, "in_set(prio)" -> 1L,
      "unique(k)" -> 1L, "ref(k->ck)" -> 1L), r.toString)
    // a clean table audits to zeros (incl. the empty-sum coalesce)
    val clean = auditConstraints(dim.select($"ck".as("k")),
      Seq(NotNull("k"), Unique(Seq("k")))).collect()
    assert(clean.forall(_.getLong(1) == 0L), clean.mkString(","))
  }

  test("constraint audit row-local batch is one aggregation pass") {
    import Quality._
    val p = auditConstraints(documents, Seq(
        NotNull("doc_id"), InRange("n_chars", 0, 1e9),
        Matches("lang", "^[a-z]+$")))
      .queryExecution.executedPlan.toString
    // a single global two-phase aggregate: one exchange, no join
    assert(p.linesIterator.count(_.contains("Exchange")) == 1, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  // ---- per-dimension embedding stats (r7) -----------------------------

  test("dimension stats equal the exploded formulation and handle ragged input") {
    import org.apache.spark.sql.{functions => F}
    val native = Similarity.dimensionStats(embeddings)
      .selectExpr("dim", "n", "round(mean, 6) as mean", "round(std, 6) as std",
        "round(mn, 6) as mn", "round(mx, 6) as mx")
    val exploded = embeddings.where("embedding is not null")
      .select(F.posexplode(F.col("embedding")).as(Seq("p", "x")))
      .groupBy((F.col("p") + 1).as("dim"))
      .agg(F.count(F.lit(1)).as("n"),
        F.round(F.avg(F.col("x").cast("double")), 6).as("mean"),
        F.round(F.stddev_samp(F.col("x").cast("double")), 6).as("std"),
        F.round(F.min(F.col("x").cast("double")), 6).as("mn"),
        F.round(F.max(F.col("x").cast("double")), 6).as("mx"))
    assert(native.exceptAll(exploded).isEmpty &&
      exploded.exceptAll(native).isEmpty)
    // zero shuffles before the one-row result
    val p = Similarity.dimensionStats(embeddings)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
    // ragged + null vectors: per-dim n tracks coverage
    import spark.implicits._
    val ragged = Seq(Some(Seq(1f, 2f, 3f)), Some(Seq(10f)), None)
      .toDF("embedding")
    val r = Similarity.dimensionStats(ragged).collect()
      .map(x => x.getInt(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(r(1) == ((2L, 5.5)) && r(2)._1 == 1L && r(3)._1 == 1L, r.toString)
  }

  // ---- mergeable distinct sketches (r7) -------------------------------

  test("merged batch sketches estimate distincts within the HLL band") {
    import org.apache.spark.sql.{functions => F}
    val d = documents.selectExpr("doc_id", "lang", "md5(text) as h")
    val batches = Seq(0, 1, 2).map(p =>
      Sketches.distinctSketches(d.filter(s"doc_id % 3 = $p"), Seq("lang"), "h"))
    val est = Sketches.mergeDistinctEstimates(batches, Seq("lang"))
    val exact = d.groupBy("lang").agg(F.countDistinct("h").as("n_exact"))
    val joined = exact.join(est, Seq("lang")).collect()
    assert(joined.nonEmpty)
    val rse3 = 3.0 * 1.04 / math.sqrt(1 << 12)
    joined.foreach { r =>
      val ex = r.getAs[Long]("n_exact").toDouble
      val e = r.getAs[Long]("distinct_est").toDouble
      assert(math.abs(e - ex) <= math.max(2.0, ex * rse3),
        s"${r.getString(0)}: est $e vs exact $ex")
    }
    // merging the per-batch sketches equals sketching the whole input
    val whole = Sketches.distinctSketches(d, Seq("lang"), "h")
    val mergedOne = Sketches.mergeDistinctEstimates(Seq(whole), Seq("lang"))
    assert(est.exceptAll(mergedOne).isEmpty && mergedOne.exceptAll(est).isEmpty)
  }

  // ---- retention funnel (r11c) ----------------------------------------

  test("retention funnel: first-failure attribution, one scan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over everything here", 100L),
      (2L, null.asInstanceOf[String], 100L),  // drops at non_empty
      (3L, "short", 100L),                    // drops at word_min
      (4L, "one two three four five six", 5L),// drops at char_band
      // passes non_empty+char_band+word_min but fails BOTH later
      // stages conceptually — charged to word_min's successor only
      (5L, "aa bb cc dd ee ff", 50L)          // drops at has_the
    ).toDF("doc_id", "text", "n_chars")
    val out = Quality.retentionFunnel(docs, Seq(
      "non_empty" -> "text is not null and length(text) > 0",
      "char_band" -> "n_chars between 10 and 1000",
      "word_min" -> "size(filter(split(text, '\\\\s+'), t -> t <> '')) >= 3",
      "has_the" -> "lower(text) like '%the%'"))
      .collect().map(r => r.getAs[String]("stage") -> r).toMap
    def triple(s: String) = (out(s).getAs[Long]("n_in"),
      out(s).getAs[Long]("n_pass"), out(s).getAs[Long]("n_drop"))
    assert(triple("non_empty") == ((5L, 4L, 1L)))
    assert(triple("char_band") == ((4L, 3L, 1L)))
    assert(triple("word_min") == ((3L, 2L, 1L)))
    assert(triple("has_the") == ((2L, 1L, 1L)))
    assert(out("has_the").getAs[Int]("stage_idx") == 4)
    // drop counts sum to total - survivors
    assert(out.values.map(_.getAs[Long]("n_drop")).sum == 4L)
    // one corpus scan, zero joins in the plan
    val p = Quality.retentionFunnel(docs,
      Seq("a" -> "n_chars > 0", "b" -> "doc_id > 0"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p.take(2000))
    // empty input: zero counts, never NULL
    val empty = Quality.retentionFunnel(docs.filter("false"),
      Seq("a" -> "n_chars > 0")).collect()
    assert(empty.length == 1 && empty.head.getAs[Long]("n_in") == 0L &&
      empty.head.getAs[Long]("n_pass") == 0L)
    // duplicate stage names are a loud wall
    intercept[IllegalArgumentException] {
      Quality.retentionFunnel(docs, Seq("a" -> "true", "a" -> "false"))
    }
  }

  // ---- leakage-safe split (r11c) --------------------------------------

  test("leakage-safe split: near-dup groups never straddle splits") {
    val out = Sampling.leakageSafeSplit(documents,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), 0.5)
    // every group lands in exactly one split
    val mixed = out.groupBy("group_id")
      .agg(F.countDistinct("split").as("k"), F.count(F.lit(1)).as("n"))
      .filter("k > 1").collect()
    assert(mixed.isEmpty, mixed.mkString(", "))
    // group keys agree with duplicateGroups; singletons self-key
    val groups = Dedup.duplicateGroups(documents, 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keyed = out.select("doc_id", "group_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keyed.forall { case (id, g) => g == groups.getOrElse(id, id) })
    // row count preserved; raw splitAssign on doc_id DOES straddle at
    // least one group here (the guarantee is not vacuous)
    assert(out.count() == documents.count())
    val raw = Sampling.splitAssign(documents, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val straddled = groups.groupBy(_._2).values.exists { members =>
      members.keys.map(raw).toSet.size > 1
    }
    assert(straddled, "fixture has no multi-split dup group; weaken test data")
    // reserved output name collision is a loud wall
    intercept[IllegalArgumentException] {
      Sampling.leakageSafeSplit(documents.withColumn("split", F.lit("x")),
        Seq("train" -> 1.0))
    }
  }

  // ---- fuzzy decontamination (r11c) ------------------------------------

  test("fuzzy decontamination: near-copies flagged, quotes are not") {
    import spark.implicits._
    val evalD = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val train = Seq(
      // near-copy: one word changed — high jaccard
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota mu"),
      // verbatim QUOTE inside an otherwise-novel doc — low whole-doc
      // jaccard, caught by the n-gram rule but NOT by this one
      (2L, "alpha beta gamma " +
        (1 to 30).map(i => s"nov$i").mkString(" ")),
      (3L, "completely unrelated text about nothing in particular at all")
    ).toDF("doc_id", "text")
    val pairs = Dedup.fuzzyDecontaminationPairs(train, evalD, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 100L)))
    // corpus filter drops exactly the near-copy
    val kept = Dedup.fuzzyDecontaminatedCorpus(train, evalD, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
    // complementarity: the n-gram rule DOES flag the quote doc
    val exact = Dedup.decontaminationScores(train, evalD, 0.0)
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    assert(!exact(1L) && !exact(2L) && exact(3L))
    // empty eval side: nothing flagged, corpus passes through
    assert(Dedup.fuzzyDecontaminationPairs(train,
      evalD.filter("false"), 0.5).collect().isEmpty)
    assert(Dedup.fuzzyDecontaminatedCorpus(train,
      evalD.filter("false"), 0.5).count() == 3L)
  }

  // ---- epoch plan + fractional upsampling (r11c) -----------------------

  test("epoch plan: budget-weighted epochs, hand-computed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "web", 100L), (2L, "web", 300L),   // web: 400 tokens
      (3L, "wiki", 50L), (4L, "wiki", 50L),   // wiki: 100 tokens
      (5L, "junk", 10L),                      // unlisted: weight 0
      (6L, "empty", 0L)                       // zero tokens: NULL epochs
    ).toDF("doc_id", "source", "n_tok")
    val plan = Sampling.epochPlan(docs, "source", "n_tok",
        Map("web" -> 0.75, "wiki" -> 0.25), budgetTokens = 800L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(plan("web").getAs[Double]("epochs") == 800.0 * 0.75 / 400.0) // 1.5
    assert(plan("wiki").getAs[Double]("epochs") == 800.0 * 0.25 / 100.0) // 2.0
    assert(plan("junk").getAs[Double]("weight") == 0.0 &&
      plan("junk").getAs[Double]("epochs") == 0.0)
    assert(plan("empty").isNullAt(plan("empty").fieldIndex("epochs")))
    assert(plan("web").getAs[Long]("tokens") == 400L &&
      plan("web").getAs[Long]("n_docs") == 2L)
    // weights normalize over the PRESENT map (0.5/0.5 of total 1.0)
    val norm = Sampling.epochPlan(docs, "source", "n_tok",
        Map("web" -> 2.0, "wiki" -> 2.0), 800L)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("weight")).toMap
    assert(norm("web") == 0.5 && norm("wiki") == 0.5)
  }

  test("upsample epochs: exact md5 replay, monotone, epoch index") {
    import spark.implicits._
    import java.security.MessageDigest
    val docs = (1L to 400L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "source")
    def hashFrac(id: Long): Double = {
      val h = MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = h.take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
    }
    val eps = Map("a" -> 2.3, "b" -> 0.7)
    val got = Sampling.upsampleEpochs(docs, "doc_id", "source", eps)
      .collect().map(r => (r.getLong(0), r.getInt(2)))
    // independent Scala replay of the repeat rule
    val expect = (1L to 400L).flatMap { i =>
      val e = eps(if (i % 2 == 0) "a" else "b")
      val n = e.toInt + (if (hashFrac(i) <
        math.floor((e - math.floor(e)) * 4294967296.0) / 4294967296.0) 1 else 0)
      (1 to n).map(k => (i, k))
    }.toSet
    assert(got.toSet == expect && got.length == expect.size)
    // every kept doc carries epochs 1..n densely
    val byDoc = got.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq)
    assert(byDoc.forall { case (_, ks) => ks == (1 to ks.length) })
    // monotone: epochs 2.3 ⊂ 2.4 (group a), counts grow only
    val more = Sampling.upsampleEpochs(docs, "doc_id", "source",
        Map("a" -> 2.4, "b" -> 0.7))
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(got.toSet.subsetOf(more))
    // integer epochs repeat exactly; default 0 drops unlisted groups
    val exact2 = Sampling.upsampleEpochs(docs.filter("source = 'a'"),
      "doc_id", "source", Map("a" -> 2.0))
    assert(exact2.count() == 400L) // 200 docs x 2
    val dropped = Sampling.upsampleEpochs(docs, "doc_id", "source",
      Map("a" -> 1.0))
    assert(dropped.filter("source = 'b'").count() == 0)
    // plan shape: no shuffle, no join — projection + generate only
    val p = Sampling.upsampleEpochs(docs, "doc_id", "source", eps)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"), p.take(1500))
    // walls
    intercept[IllegalArgumentException] {
      Sampling.upsampleEpochs(docs, "doc_id", "source", Map("a" -> 1001.0))
    }
    intercept[IllegalArgumentException] {
      Sampling.upsampleEpochs(docs.withColumn("epoch", F.lit(1)),
        "doc_id", "source", eps)
    }
  }

  // ---- decontamination (r11c) -----------------------------------------

  test("decontamination: reverse contamination + keep verdicts") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // no overlap
      (2L, "the quick brown fox jumps high"),      // full 3-gram overlap
      (3L, "xx the quick brown fox yy zz")         // partial overlap
    ).toDF("doc_id", "text")
    val ev = Seq((100L, "the quick brown fox jumps high today"))
      .toDF("doc_id", "text")
    val out = Dedup.decontaminationScores(train, ev, 0.0)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Double]("overlap") == 0.0 &&
      out(1L).getAs[Boolean]("keep"))
    assert(out(2L).getAs[Double]("overlap") == 1.0 &&
      !out(2L).getAs[Boolean]("keep"))
    val o3 = out(3L)
    assert(o3.getAs[Long]("matched") == 2L && // 'the quick brown','quick brown fox'
      o3.getAs[Long]("n_shingles") == 5L &&
      !o3.getAs[Boolean]("keep"))
    // threshold admits the partial overlap but not the full copy
    val loose = Dedup.decontaminationScores(train, ev, 0.5)
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    assert(loose == Map(1L -> true, 2L -> false, 3L -> true))
    // corpus filter removes exactly keep=false docs, schema untouched
    val kept = Dedup.decontaminatedCorpus(train, ev, 0.0)
    assert(kept.columns.toSeq == train.columns.toSeq)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L))
    // agreement with the audit direction: decontaminating train
    // against ev scores the same joins contaminationScores(ev, train)
    val audit = Dedup.contaminationScores(ev, train).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("contamination")).toMap
    assert(out.forall { case (id, r) =>
      r.getAs[Double]("overlap") == audit(id) })
  }

  test("annRecall: hand-computed recall@k, perfect and zero paths (r12)") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (3L, 30L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 11L), (1L, 99L), (1L, 12L),
      (2L, 98L), (2L, 97L), (3L, 30L))
      .toDF("query_id", "neighbor_id")
    val r = graft.ops.Similarity.annRecall(approx, exact)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r(1L) == ((3L, 2L, 2.0 / 3)))   // 11,12 hit; 10 missed
    assert(r(2L) == ((2L, 0L, 0.0)))       // nothing recalled
    assert(r(3L) == ((1L, 1L, 1.0)))       // perfect
    // self-recall of any result set is exactly 1.0 everywhere
    val self = graft.ops.Similarity.annRecall(exact, exact).collect()
    assert(self.forall(_.getDouble(3) == 1.0) && self.length == 3)
  }

  test("rrfFuse: hand-computed fusion, absent-side convention (r12)") {
    import spark.implicits._
    val a = Seq((1L, 10L, 1L), (1L, 11L, 2L), (2L, 20L, 1L))
      .toDF("query_id", "neighbor_id", "rnk")
    val b = Seq((1L, 11L, 1L), (1L, 12L, 2L), (2L, 20L, 1L))
      .toDF("query_id", "neighbor_id", "rnk")
    val r = graft.ops.Similarity.rrfFuse(a, b, 60)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getDouble(2), x.getLong(3)))).toMap
    // 11 appears in both lists (ranks 2 and 1) — fuses highest
    assert(r((1L, 11L))._1 == 1.0 / 62 + 1.0 / 61 && r((1L, 11L))._2 == 1L)
    // one-sided candidates keep their single term
    assert(r((1L, 10L))._1 == 1.0 / 61 && r((1L, 10L))._2 == 2L)
    assert(r((1L, 12L))._1 == 1.0 / 62 && r((1L, 12L))._2 == 3L)
    // a query present in both sides with identical lists is stable
    assert(r((2L, 20L)) == ((1.0 / 61 + 1.0 / 61, 1L)))
    assert(r.size == 4)
  }

  test("pseudoShuffle: deterministic, shard-bounded, dense per-shard ranks (r12)") {
    val docs = TestSpark.spark.read
      .parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id")
    val a = graft.ops.Sampling.pseudoShuffle(docs, "doc_id", "ep1", 8)
    val b = graft.ops.Sampling.pseudoShuffle(docs, "doc_id", "ep1", 8)
    val ra = a.collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(ra.toSet == b.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet)
    // shards bounded; per-shard positions are dense 1..n
    assert(ra.forall { case (_, sh, _) => sh >= 0 && sh < 8 })
    ra.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // a different seed reorders (epochs differ)
    val c = graft.ops.Sampling.pseudoShuffle(docs, "doc_id", "ep2", 8)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    val posA = ra.map(x => x._1 -> x._3).toMap
    assert(c.exists { case (id, p) => posA(id) != p })
  }

  test("mixtureAudit: counts, shares, expected, both loud paths (r12)") {
    import spark.implicits._
    val df = (Seq.fill(6)("en") ++ Seq.fill(3)("de") ++ Seq.fill(1)("zz"))
      .zipWithIndex.map { case (l, i) => (i.toLong, l) }
      .toDF("doc_id", "lang")
    val out = graft.ops.Quality.mixtureAudit(df, "lang",
        Map("en" -> 0.6, "de" -> 0.3, "xx" -> 0.1))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("en").getAs[Long]("n") == 6L &&
      out("en").getAs[Double]("share") == 0.6 &&
      out("en").getAs[Double]("expected") == 6.0 &&
      out("en").getAs[Double]("ratio") == 1.0)
    assert(out("de").getAs[Double]("ratio") == 1.0)
    // planned-but-absent group reports n = 0
    assert(out("xx").getAs[Long]("n") == 0L &&
      out("xx").getAs[Double]("expected") == 1.0)
    // unplanned group: weight 0, NULL ratio
    assert(out("zz").getAs[Long]("n") == 1L &&
      out("zz").getAs[Double]("weight") == 0.0 &&
      out("zz").isNullAt(out("zz").fieldIndex("ratio")))
    // weights normalize: doubling every weight changes nothing (to
    // float tolerance — a non-1 sum pays one division ulp, which is
    // why weights WRITTEN to sum to 1 snap through verbatim instead)
    val out2 = graft.ops.Quality.mixtureAudit(df, "lang",
        Map("en" -> 1.2, "de" -> 0.6, "xx" -> 0.2))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("expected")).toMap
    assert(math.abs(out2("en") - 6.0) < 1e-12 &&
      math.abs(out2("xx") - 1.0) < 1e-12)
  }

  test("q_bitmap_distinct counts every bigint key, negative and wide ones too") {
    import spark.implicits._
    // keys outside [0, 2^20]: a dense-bitmap count must not drop them
    val keys: Seq[java.lang.Long] =
      Seq(-5L, 0L, 1L, (1L << 20) + 3, -5L, 1L).map(Long.box) :+ null
    val dir = java.nio.file.Files.createTempDirectory("graft_bitmap").toString
    keys.flatMap(k => Seq(("click", k), ("view", k))).toDF("event_type", "user_id")
      .union(Seq(("view", 7L: java.lang.Long)).toDF("event_type", "user_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.SparkEntry.queries("q_bitmap_distinct")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = spark.read.parquet(s"$dir/events.parquet")
      .groupBy("event_type").agg(F.countDistinct("user_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(want == Map("click" -> 4L, "view" -> 5L))
    assert(got == want)
  }
}
