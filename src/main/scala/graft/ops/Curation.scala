package graft.ops

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Web-crawl curation primitives for training-data pipelines: URL
  * canonicalization, registered-domain extraction, and per-domain
  * document caps (the standard crawl-mixture control: no domain may
  * contribute more than N documents, keeping the best N by a caller-
  * chosen ordering).
  *
  * All three are pure codegen'd column expressions / one-window plans
  * — no UDFs, no driver-side work — so they run unchanged at any
  * scale. (The reference engine, sql_to_ibis, has no crawl-curation
  * surface; these extend the pipeline-operator set of SURVEY.md §2.2.)
  */
object Curation {

  /** Canonical URL form: lowercase, scheme stripped, a leading
    * `www.` stripped, query string and fragment stripped, trailing
    * slashes stripped. Every step is one anchored regexp (at most one
    * match), so Spark's replace-all and other engines' replace-first
    * semantics agree — the DuckDB oracle replays the identical chain.
    */
  def normalizedUrl(url: Column): Column = {
    val lower    = F.lower(url)
    val noScheme = F.regexp_replace(lower, "^[a-z][a-z0-9+.-]*://", "")
    val noWww    = F.regexp_replace(noScheme, "^www\\.", "")
    val noQuery  = F.regexp_replace(noWww, "[?#].*$", "")
    F.regexp_replace(noQuery, "/+$", "")
  }

  /** Host part of a canonicalized URL (up to the first `/`). */
  def host(url: Column): Column =
    F.regexp_extract(normalizedUrl(url), "^([^/]+)", 1)

  /** Multi-label public suffixes (r6): second-level registry zones
    * where the registered domain is one label DEEPER than the plain
    * last-two-labels heuristic (`shop.example.co.uk` → `example.co.uk`,
    * not `co.uk`). A curated subset of the Mozilla Public Suffix List
    * covering the common ccTLD second-level registries; pass the full
    * PSL to [[registeredDomain]] when exactness beyond these matters
    * (the lowering is generic over the set's contents, including
    * 3-label entries). */
  val DefaultMultiLabelSuffixes: Seq[String] = Seq(
    // United Kingdom / Ireland
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "ltd.uk",
    "plc.uk", "sch.uk",
    // Australia / New Zealand
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz",
    // Japan / Korea / China / Taiwan / Hong Kong / Singapore
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "ad.jp",
    "co.kr", "ne.kr", "or.kr", "go.kr", "ac.kr", "re.kr",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "com.tw", "net.tw", "org.tw", "gov.tw", "edu.tw",
    "com.hk", "net.hk", "org.hk", "gov.hk", "edu.hk",
    "com.sg", "net.sg", "org.sg", "gov.sg", "edu.sg",
    // South / Southeast Asia
    "co.in", "net.in", "org.in", "gov.in", "ac.in", "res.in", "firm.in",
    "co.th", "net.th", "or.th", "go.th", "ac.th",
    "com.my", "net.my", "org.my", "gov.my", "edu.my",
    "co.id", "net.id", "or.id", "go.id", "ac.id", "web.id",
    "com.ph", "net.ph", "org.ph", "gov.ph", "edu.ph",
    "com.vn", "net.vn", "org.vn", "gov.vn", "edu.vn",
    "com.pk", "com.bd",
    // Americas
    "com.br", "net.br", "org.br", "gov.br", "edu.br",
    "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar",
    "com.co", "net.co", "org.co", "gov.co", "edu.co",
    "com.pe", "com.ve", "com.uy", "com.ec", "com.bo", "com.py",
    "com.gt", "com.do", "com.sv", "com.hn", "com.ni", "com.pa",
    // Africa / Middle East / Europe (second-level registries)
    "co.za", "net.za", "org.za", "gov.za", "ac.za",
    "co.ke", "or.ke", "go.ke", "ac.ke",
    "com.ng", "com.eg", "com.sa", "com.tr", "net.tr", "org.tr",
    "gov.tr", "edu.tr",
    "co.il", "net.il", "org.il", "gov.il", "ac.il", "muni.il",
    "com.ua", "net.ua", "org.ua", "gov.ua", "edu.ua",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl")

  /** Registered domain of a URL: the label immediately below the
    * host's public suffix, with the suffix (`example.co.uk`,
    * `example.com`). Longest-match against `suffixes` (3-label
    * entries checked before 2-label, per PSL semantics), falling back
    * to the last-two-labels heuristic for ordinary TLDs, then to the
    * whole host (dot-free, or the host IS a listed suffix).
    *
    * Pure codegen'd projection — the suffix set lowers to a literal
    * array probed per row, which beats even a broadcast join (no join
    * node at all) and replays identically on any engine. The default
    * set covers the common second-level registries; pass the full
    * ~9k-entry PSL for exactness (still a per-row probe of a
    * broadcast-sized literal; for sets that large prefer sorting it
    * so misses exit early — or pre-extract the host once and join a
    * suffix TABLE if the set must be runtime-updatable). */
  def registeredDomain(
      url: Column,
      suffixes: Seq[String] = DefaultMultiLabelSuffixes): Column = {
    val h = host(url)
    def lastN(n: Int): Column = F.nullif(
      F.regexp_extract(h, "(" + Seq.fill(n)("[^.]+").mkString("\\.") + ")$", 1),
      F.lit(""))
    val (three, two) = suffixes.partition(_.count(_ == '.') == 2)
    def inSet(set: Seq[String], c: Column): Column =
      if (set.isEmpty) F.lit(false)
      else F.array_contains(F.typedLit(set.sorted), c)
    F.coalesce(
      F.when(inSet(three, lastN(3)), lastN(4)),
      F.when(inSet(two, lastN(2)), lastN(3)),
      lastN(2), h)
  }

  /** Quantile-threshold filtering — "keep the top `keepFrac` of the
    * corpus by this score", the standard quality-gate after scoring.
    * Two aggregations, no extra shuffle of the data itself: the
    * (1 − keepFrac) quantile reduces to ONE broadcast row and the
    * corpus filters against it — rows never move. `exact = true` uses
    * Spark's exact interpolating percentile (≡ DuckDB quantile_cont,
    * so the oracle replays it bit-for-bit); at 100 TB pass
    * `exact = false` for approx_percentile — identical plan shape
    * (mergeable sketch partials instead of a per-value map) with a
    * bounded rank error. */
  def keepTopQuantile(df: DataFrame, score: Column, keepFrac: Double,
                      exact: Boolean = true): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1, "keepFrac must be in (0, 1]")
    val q = 1.0 - keepFrac
    val thrCol =
      if (exact) F.call_function("percentile", score, F.lit(q))
      else F.call_function("approx_percentile", score, F.lit(q), F.lit(10000))
    val thr = df.agg(thrCol.as("__q_thr"))
    df.crossJoin(F.broadcast(thr))
      .filter(score >= F.col("__q_thr"))
      .drop("__q_thr")
  }

  /** Quality-gate retention curve (r6): for each candidate threshold,
    * how many rows — and how much `weightCol` mass (tokens, bytes) —
    * a `score >= t` gate would keep, as counts and fractions. The
    * calibration table read before picking [[keepTopQuantile]]'s
    * fraction or a classifier cutoff: thresholds are knowable knobs,
    * retention is what the training-token budget actually constrains.
    *
    * Plan shape: ONE pass — a single aggregation computing every
    * threshold's conditional count/sum side by side (thresholds are a
    * small literal list), then an explode of the one result row into
    * |thresholds| output rows. No per-threshold scans, no shuffle
    * beyond the aggregation's one-row combine. Weights sum as
    * BIGINTs (exact at any accumulation order — the fractions are
    * then single IEEE divisions, engine-reproducible). NULL scores
    * fail every gate (SQL comparison semantics), NULL weights count
    * zero mass. */
  def retentionCurve(df: DataFrame, scoreCol: String, weightCol: String,
                     thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "retentionCurve needs thresholds")
    val total = Seq(
      F.count(F.lit(1)).as("__tot_n"),
      F.sum(F.col(weightCol).cast("long")).as("__tot_w"))
    val per = thresholds.zipWithIndex.flatMap { case (t, i) => Seq(
      F.sum(F.when(F.col(scoreCol) >= t, 1L).otherwise(0L)).as(s"__n_$i"),
      F.coalesce(F.sum(F.when(F.col(scoreCol) >= t,
        F.col(weightCol).cast("long")).otherwise(0L)), F.lit(0L))
        .as(s"__w_$i"))
    }
    val aggCols = total ++ per
    val agg = df.agg(aggCols.head, aggCols.tail: _*)
    val rows = thresholds.zipWithIndex.map { case (t, i) =>
      F.struct(F.lit(t).as("threshold"), F.col(s"__n_$i").as("n_kept"),
        F.col(s"__w_$i").as("w_kept"))
    }
    agg.select(F.col("__tot_n"), F.col("__tot_w"),
        F.explode(F.array(rows: _*)).as("__r"))
      .select(F.col("__r.threshold").as("threshold"),
        F.col("__r.n_kept").as("n_kept"),
        (F.col("__r.n_kept").cast("double") / F.col("__tot_n"))
          .as("keep_frac"),
        F.col("__r.w_kept").as("w_kept"),
        (F.col("__r.w_kept").cast("double") / F.col("__tot_w"))
          .as("w_frac"))
  }

  /** Per-group percentile score calibration (r7, SURVEY §2.2 row
    * 107): raw quality scores are not comparable across domains (a
    * mediocre encyclopedia page outscores an excellent forum post),
    * so a cross-domain gate must cut on each document's standing
    * WITHIN its domain. Emits percent_rank (0 at the group's worst,
    * 1 at its best; ties share a rank) and cume_dist over the score
    * inside each group — ONE window shuffle on the group key at any
    * corpus size, the identical plan to capPerDomain. Ranks are
    * exact multiples of 1/(n-1): left UNROUNDED (identical IEEE
    * divisions format identically; rounding would land on .xx5
    * boundaries — see q_window_rank). NULL scores sort first
    * (Spark/DuckDB agree ascending) and receive ranks like values. */
  def calibrateScores(df: DataFrame, groupCol: String,
                      scoreCol: String): DataFrame = {
    val w = Window.partitionBy(F.col(groupCol))
      .orderBy(F.col(scoreCol).asc)
    df.withColumn("score_pct", F.percent_rank().over(w))
      .withColumn("score_cume", F.cume_dist().over(w))
  }

  /** Token-budget greedy selection (r7, SURVEY §2.2 row 108): keep
    * the best-scoring documents whose cumulative weight (tokens/
    * bytes) fits `budget` — the "fill the training-token budget with
    * the best data" selection that replaces a hand-tuned score
    * threshold. A document is kept when the running weight sum
    * STRICTLY BEFORE it (in best-first order) is below the budget,
    * so the selection always takes the best prefix and may overshoot
    * by at most one document — the deterministic greedy contract.
    * ONE global-order window (single-partition for the cumulative
    * sum): exact global greedy selection is inherently a total
    * order. At 100 TB, pre-aggregate per score-bucket and run the
    * cumulative sum over the ~1e4 bucket rows, then keep whole
    * buckets and recurse into the boundary bucket — same contract,
    * bucket-bounded exactness; this operator is the exact tier.
    * `order` must be a TOTAL order (include a unique id last) for a
    * deterministic kept set; NULL weights carry zero mass. */
  def budgetSelect(df: DataFrame, weightCol: String, budget: Long,
                   order: Seq[Column]): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(order.nonEmpty, "budgetSelect needs a best-first order")
    val w = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__prior",
        F.coalesce(F.sum(F.col(weightCol).cast("long")).over(w), F.lit(0L)))
      .filter(F.col("__prior") < budget)
      .drop("__prior")
  }

  /** The SCALE tier of [[budgetSelect]] (r8): EXACTLY the same kept
    * set for order = (scoreCol DESC NULLS LAST, tieCol ASC), without
    * the exact tier's global single-partition sort. Rows bucket by
    * score range (equal scores can never split across buckets, and
    * bucket id is monotone against score order); the cumulative
    * weight runs over the ~`buckets` per-bucket totals instead of the
    * corpus; whole buckets keep or drop by their cumulative bounds,
    * and ONLY the single straddling bucket pays a windowed prior —
    * partitioned BY BUCKET, so the sort is bounded by one bucket's
    * rows, not the corpus. One extra one-row min/max pre-pass (the
    * histogramAuto pattern) buys the bucketing. Equivalence to the
    * exact tier is pinned in CurationSpec at forced tiny bucket
    * counts (1 = everything straddles, so the boundary path IS the
    * exact path). */
  def budgetSelectBucketed(df: DataFrame, weightCol: String, budget: Long,
                           scoreCol: String, tieCol: String,
                           buckets: Int = 10000): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(buckets >= 1, "buckets must be positive")
    val reserved = Seq("__bkt", "__mn", "__mx", "__tot", "__cumb", "__prior")
    val clash = df.columns.filter(c => reserved.exists(_.equalsIgnoreCase(c)))
    require(clash.isEmpty, s"input columns [${clash.mkString(", ")}] " +
      "collide with reserved budgetSelectBucketed helper names")
    val mm = df.agg(F.min(F.col(scoreCol).cast("double")).as("__mn"),
      F.max(F.col(scoreCol).cast("double")).as("__mx"))
    // bucket 0 = best score; NULL scores land in their own bucket
    // AFTER every real one (the exact tier's DESC NULLS LAST)
    val withB = df.crossJoin(F.broadcast(mm))
      .withColumn("__bkt",
        F.when(F.col(scoreCol).isNull, F.lit(buckets.toLong))
          .when(F.col("__mx") === F.col("__mn"), F.lit(0L))
          .otherwise(F.least(F.lit(buckets.toLong - 1),
            F.floor((F.col("__mx") - F.col(scoreCol).cast("double")) /
              ((F.col("__mx") - F.col("__mn")) / buckets)))))
      .drop("__mn", "__mx")
    val totals = withB.groupBy("__bkt")
      .agg(F.coalesce(F.sum(F.col(weightCol).cast("long")), F.lit(0L))
        .as("__tot"))
    // cumulative over the BUCKET rows only (≤ buckets+1 rows — the
    // single partition here is a constant-size table, not the corpus)
    val wB = Window.orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val decided = totals
      .withColumn("__cumb", F.coalesce(F.sum("__tot").over(wB), F.lit(0L)))
    val joined = withB.join(F.broadcast(decided), Seq("__bkt"))
    // cumb < budget is load-bearing for zero-weight buckets (their
    // rows' prior is exactly cumb — the exact tier drops them when
    // cumb == budget)
    val keepAll = joined
      .filter(F.col("__cumb") < budget &&
        F.col("__cumb") + F.col("__tot") <= budget)
    val wIn = Window.partitionBy("__bkt")
      .orderBy(F.col(scoreCol).desc_nulls_last, F.col(tieCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val boundary = joined
      .filter(F.col("__cumb") < budget &&
        F.col("__cumb") + F.col("__tot") > budget)
      .withColumn("__prior", F.col("__cumb") +
        F.coalesce(F.sum(F.col(weightCol).cast("long")).over(wIn), F.lit(0L)))
      .filter(F.col("__prior") < budget)
      .drop("__prior")
    keepAll.unionByName(boundary)
      .drop("__bkt", "__tot", "__cumb")
  }

  /** Snapshot diff (r7b): the corpus-regression check between two
    * keyed snapshots — which keys were ADDED, REMOVED, CHANGED or
    * UNCHANGED from `oldDf` to `newDf`. The pre-admission gate for
    * incremental corpus rebuilds ("this re-crawl changed 0.3% of
    * documents, added 2%, dropped 1%" — anything else blocks the
    * swap).
    *
    * Scale shape: each side collapses map-side to ONE fixed-width
    * (key, n, hash-sum) row per key (two-phase aggregation — the
    * exchange carries ~24 bytes per key regardless of document
    * size), then ONE full-outer equi-join on the key. Value columns
    * are the non-key columns common to both sides; rows sharing a key
    * compare as MULTISETS via (count, order-independent sum of
    * per-row xxhash64) — duplicate keys need no special casing, and
    * the comparison is exchange-order-invariant. The repo-wide
    * xxhash64 row-hash convention applies (same as the recursive-CTE
    * keyed dedup tier): a false "unchanged" needs a 2⁻⁶⁴ collision.
    *
    * Output: (keys..., status) — one row per key present in either
    * snapshot; callers aggregate `group by status` for the gate
    * counts. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs key columns")
    val keyLc = keys.map(_.toLowerCase).toSet
    val newCols = newDf.columns.map(_.toLowerCase).toSet
    val valueCols = oldDf.columns.filter(c =>
      !keyLc.contains(c.toLowerCase) && newCols.contains(c.toLowerCase))
    def summarize(df: DataFrame, side: String): DataFrame =
      df.groupBy(keys.map(F.col): _*)
        .agg(F.count(F.lit(1)).as(s"__n_$side"),
          // decimal(38,0) accumulator: a SUM of 2⁶³-scale hashes
          // overflows long under ANSI mode; 38 digits hold ~10¹⁹
          // rows per key before overflow
          (if (valueCols.isEmpty) F.lit(java.math.BigDecimal.ZERO)
           else F.sum(F.xxhash64(valueCols.map(F.col): _*)
             .cast("decimal(38,0)"))).as(s"__h_$side"))
    val joined = summarize(oldDf, "old")
      .join(summarize(newDf, "new"), keys, "full_outer")
    joined.select(keys.map(F.col) :+
      F.when(F.col("__n_old").isNull, F.lit("added"))
        .when(F.col("__n_new").isNull, F.lit("removed"))
        .when(F.col("__n_old") === F.col("__n_new") &&
          F.col("__h_old") === F.col("__h_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed")).as("status"): _*)
  }

  /** PageRank over an edge table (r5c) — the crawl-curation authority
    * signal: rank domains/pages by the link graph before capping or
    * mixing (the CommonCrawl-style domain-ranking pass). Standard
    * damped power iteration with dangling-mass redistribution:
    *
    *   rank'(v) = (1−d)/N + d · (Σ_{u→v} rank(u)/outdeg(u) + D/N)
    *
    * where D is the summed rank of dangling (no-out-edge) nodes, so
    * total mass stays exactly 1 every round.
    *
    * Distribution (the same Pregel shape as
    * [[Dedup.connectedComponents]]): contributions shuffle once per
    * round on the edge destination key with map-side partial sums
    * (high in-degree skew collapses before the exchange); ranks and
    * out-degrees co-key on the node; the dangling mass reduces to a
    * ONE-ROW broadcast; each round eagerly checkpoints to cut the
    * doubling lineage — `checkpointDir` selects RELIABLE checkpoints
    * for executor-loss recovery on long multi-hour graphs, exactly as
    * in connectedComponents. The single driver-side value is N (one
    * count), needed as a literal in every round's arithmetic.
    *
    * Edges are used as given (pre-deduplicate for simple-graph
    * semantics); self-loops are legal and count as out-edges. Input
    * must have columns `src` and `dst`; output is (node, rank). */
  def pageRank(edges: DataFrame, iterations: Int = 10,
               damping: Double = 0.85,
               checkpointDir: Option[String] = None,
               checkpointEvery: Int = 3): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    // checkpointDir is session-global SparkContext state: set it for
    // the iteration, restore the caller's prior dir after (r6 — the
    // bare set silently redirected every later checkpoint user in the
    // session). The returned frame is already materialized by the
    // final round's eager checkpoint, so restoring on exit is safe.
    val sc = edges.sparkSession.sparkContext
    val prior = sc.getCheckpointDir
    val ckpt: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        sc.setCheckpointDir(dir)
        df => df.checkpoint(true)
      case None => df => df.localCheckpoint(true)
    }
    val lazyCkpt: DataFrame => DataFrame = checkpointDir match {
      case Some(_) => df => df.checkpoint(false)
      case None    => df => df.localCheckpoint(false)
    }
    try {
      // setup frames checkpoint LAZILY: the one node count
      // materializes edges+nodes, the first round's job materializes
      // outDeg — the r6 version paid an eager job for each
      val e = lazyCkpt(edges.select("src", "dst"))
      val nodes = lazyCkpt(e.selectExpr("src as node")
        .union(e.selectExpr("dst as node")).distinct())
      val n = nodes.count()
      val outDeg = lazyCkpt(
        e.groupBy("src").agg(F.count(F.lit(1)).as("outdeg")))
      // the initial uniform rank vector is a pure projection of the
      // checkpointed nodes — nothing to checkpoint
      var ranks = nodes.withColumn("rank", F.lit(1.0 / n))
      // tiny tier (r9, the recursive-CTE unrolling trick): when the
      // rank vector is vocabulary-bounded (domains, nations — the
      // curation graphs), ALL k rounds compose into ONE lazy linear
      // plan: no per-round checkpoint/persist/broadcast jobs, the
      // driver-side job floor (~100 ms/round) vanishes. Linearity
      // holds because the lazy round reads its predecessor ONCE —
      // the dangling-mass aggregate (the second read in the eager
      // round) is replaced by the mass invariant D = 1 − Σ in,
      // computed by a global window over the n-row frame (fine
      // under the dial, wrong posture above it — the eager tier
      // keeps the one-row broadcast instead). Float caveat: D
      // differs from the summed dangling ranks in the last ulps.
      val lazyUnroll = n <= edges.sparkSession.conf
        .get("spark.graft.pagerank.lazyUnrollRows", "200000").toLong
      if (lazyUnroll) {
        for (_ <- 1 to iterations)
          ranks = pageRankRoundLazy(nodes, e, outDeg, ranks, n, damping)
        return ranks
      }
      // rounds compose LAZILY and checkpoint (one materializing job +
      // one plan compile) every `checkpointEvery` rounds: per-round
      // eager checkpoints made the job/compile floor the dominant
      // cost at bench scale, and at cluster scale a k-round lineage
      // block is the standard iterative trade (a failure recomputes
      // at most k rounds from the last checkpoint). Each un-
      // checkpointed round PERSISTS: a round reads its predecessor
      // twice (dangling-mass aggregate + contribution join), so
      // without the cache k lazy rounds would re-run the edge join
      // 2^k times — the InMemoryRelation evaluates it once
      val bcast = Materialize.fitsBroadcast(ranks, n)
      var cached: List[DataFrame] = Nil
      for (i <- 1 to iterations) {
        val r = pageRankRound(nodes, e, outDeg, ranks, n, damping, bcast)
        if (i % checkpointEvery == 0 || i == iterations) {
          ranks = ckpt(r)
          cached.foreach(_.unpersist(false))
          cached = Nil
        } else {
          val p = r.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          cached ::= p
          ranks = p
        }
      }
      ranks
    } finally {
      if (checkpointDir.isDefined) prior.foreach(sc.setCheckpointDir)
    }
  }

  /** One power-iteration round (exposed for plan auditing — the
    * public method checkpoints each round, so the returned frame's
    * executed plan is a checkpoint scan and the round's shape is
    * only visible here). */
  private[graft] def pageRankRound(nodes: DataFrame, e: DataFrame,
      outDeg: DataFrame, ranks: DataFrame, n: Long,
      damping: Double, broadcastRanks: Boolean = false): DataFrame = {
    val rd = ranks.alias("r")
      .join(outDeg.alias("d"), F.col("r.node") === F.col("d.src"),
        "left_outer")
      .select(F.col("r.node").as("node"), F.col("r.rank").as("rank"),
        F.col("d.outdeg").as("outdeg"))
    val dangling = rd.filter(F.col("outdeg").isNull)
      .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).as("__dm"))
    // broadcast-rank regime (r7): when the rank vector fits a
    // broadcast ([[Materialize.fitsBroadcast]]), ship IT to the edges
    // — the edge table, the big side at web scale, never shuffles; the
    // only per-round exchange is the n-sized contribution partials.
    // Past the bound the planner keys both sides as before.
    val live = rd.filter(F.col("outdeg").isNotNull).alias("c")
    val contrib = (if (broadcastRanks) e.alias("e")
        .join(F.broadcast(live), F.col("c.node") === F.col("e.src"))
      else live.join(e.alias("e"), F.col("c.node") === F.col("e.src")))
      .groupBy(F.col("e.dst").as("node"))
      .agg(F.sum(F.col("c.rank") / F.col("c.outdeg")).as("__in"))
    nodes.alias("n")
      .join(contrib.alias("i"), F.col("n.node") === F.col("i.node"),
        "left_outer")
      .crossJoin(F.broadcast(dangling))
      .select(F.col("n.node").as("node"),
        (F.lit((1.0 - damping) / n) + F.lit(damping) *
          (F.coalesce(F.col("__in"), F.lit(0.0)) +
            F.col("__dm") / F.lit(n.toDouble))).as("rank"))
  }

  /** One LAZY power-iteration round (r9 tiny tier): reads the
    * predecessor rank vector exactly once, so k rounds chain into a
    * single linear plan/job. The dangling mass rides the invariant
    * Σ rank = 1 (so D = 1 − Σ contributions) via a global window
    * instead of the eager round's one-row broadcast aggregate —
    * sound at any size, single-partition-shaped only under the
    * [[pageRank]] dial. */
  private[graft] def pageRankRoundLazy(nodes: DataFrame, e: DataFrame,
      outDeg: DataFrame, ranks: DataFrame, n: Long,
      damping: Double): DataFrame = {
    val live = ranks.alias("r")
      .join(outDeg.alias("d"), F.col("r.node") === F.col("d.src"))
      .select(F.col("r.node").as("node"),
        (F.col("r.rank") / F.col("d.outdeg")).as("share"))
    val contrib = live.alias("c")
      .join(e.alias("e"), F.col("c.node") === F.col("e.src"))
      .groupBy(F.col("e.dst").as("node"))
      .agg(F.sum(F.col("c.share")).as("__in"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(F.lit(1))
    nodes.alias("n")
      .join(contrib.alias("i"), F.col("n.node") === F.col("i.node"),
        "left_outer")
      .select(F.col("n.node").as("node"),
        F.coalesce(F.col("i.__in"), F.lit(0.0)).as("__in0"))
      .select(F.col("node"),
        (F.lit((1.0 - damping) / n) + F.lit(damping) *
          (F.col("__in0") +
            (F.lit(1.0) - F.sum("__in0").over(wAll)) /
              F.lit(n.toDouble))).as("rank"))
  }

  /** Keep at most `n` rows per domain, best-first by `order` (pass a
    * total order — include a unique id as the last key — so the kept
    * set is deterministic). ONE row_number window partitioned by the
    * domain: a single hash shuffle on the domain key at any corpus
    * size, with per-group state bounded by the running counter (the
    * window needs no buffering beyond the sort). Heavy-hitter domains
    * concentrate their rows in one task by construction — for a
    * pathological single-domain corpus, pre-filter with a salted
    * count-and-sample pass before the exact cap. */
  def capPerDomain(docs: DataFrame, url: Column, n: Int,
                   order: Seq[Column]): DataFrame = {
    require(n > 0, "cap must be positive")
    docs
      .withColumn("__dom", registeredDomain(url))
      .withColumn("__dom_rn",
        F.row_number().over(
          Window.partitionBy(F.col("__dom")).orderBy(order: _*)))
      .filter(F.col("__dom_rn") <= n)
      .drop("__dom", "__dom_rn")
  }
}
