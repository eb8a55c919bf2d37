package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

/** Differential-test reference for [[Dedup.connectedComponents]]. */
object CcReference {

  /** The r12 min-label-propagation loop, kept as the differential
    * reference for [[Dedup.connectedComponents]]' fuzz suite (and as the
    * measured O(diameter) baseline the r13 star-contraction replaced
    * — 21 barrier rounds on the sf0.1 semantic-dedup graph vs ≤ 6).
    * Semantics identical on non-null ids. */
  private[graft] def ccByLabelPropagation(
      pairs: DataFrame, maxIters: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    // the fused init below IS round one, so the loop's convergence
    // flag is only ever set from round two on — maxIters = 1 would
    // always throw, even on already-converged input
    require(maxIters >= 2, "maxIters must be >= 2 (init is round one)")
    // each round references the previous labels twice (join + carry),
    // so an unbroken lineage doubles per round (2^rounds plan nodes)
    // and re-derives the candidate pipeline under every leaf. Eager
    // checkpointing materializes round inputs once and cuts lineage.
    // checkpointDir is session-global SparkContext state: set it for
    // the iteration, restore the caller's prior dir after (r6). The
    // returned labels are already materialized by the final round's
    // eager checkpoint, so restoring on exit is safe.
    val sc = pairs.sparkSession.sparkContext
    val prior = sc.getCheckpointDir
    val ckpt: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        sc.setCheckpointDir(dir)
        df => df.checkpoint(true)
      case None => df => df.localCheckpoint(true)
    }
    try {
      val edges = ckpt(pairs.selectExpr("id_a as src", "id_b as dst")
        .union(pairs.selectExpr("id_b as src", "id_a as dst")))
      // r12: the first propagation round is FUSED into the label init
      // (least(id, min dst) IS round one's output, and the groupBy
      // subsumes the old distinct) — one barrier round saved outright.
      var labels = ckpt(edges.groupBy(F.col("src"))
        .agg(F.min("dst").as("__m"))
        .select(F.col("src").as("id"),
          F.least(F.col("src"), F.col("__m")).as("label")))
      var converged = false
      var round = 1 // init already holds round one's labels
      // r12 probes, for the record: two alternatives measured WORSE
      // than this plain loop on the sf0.1 semantic-dedup graph
      // (21 rounds, component diameter ~20). (a) Pointer-jumping
      // (label-of-label self-join per round): barely cuts rounds
      // (21 -> 17, new minima still travel one edge-hop per round)
      // and the self-join SQUARES the carried size estimate, so the
      // optimizer's BigInteger digit count quadruples per round and
      // planning melts down after ~12 rounds. (b) Batching two
      // propagation rounds per checkpoint barrier: the in-batch label
      // frame is referenced twice, re-evaluating the first round and
      // compounding the same estimate blow-up; measured 4.1-5.7 s vs
      // 3.4 s. The single-round loop's carried estimate grows a
      // constant ~2.5 digits per round — bounded for any realistic
      // diameter.
      while (!converged && round < maxIters) {
        round += 1
        val prop = edges.alias("e")
          .join(labels.alias("l"), F.col("e.dst") === F.col("l.id"))
          .groupBy(F.col("e.src").as("pid"))
          .agg(F.min("l.label").as("nlabel"))
        val next = labels.alias("l0")
          .join(prop, F.col("l0.id") === F.col("pid"), "left_outer")
          .select(F.col("l0.id").as("id"),
            F.least(F.col("l0.label"),
              F.coalesce(F.col("nlabel"), F.col("l0.label"))).as("label"),
            (F.col("nlabel").isNotNull &&
              F.col("nlabel") < F.col("l0.label")).as("__changed"))
        val nextCk = ckpt(next)
        converged = nextCk.filter(F.col("__changed")).isEmpty
        labels = nextCk.drop("__changed")
      }
      // the cap exists to bound pathological inputs, and hitting it
      // means labels are under-merged — the silent-split wrong answer
      // this method exists to prevent, so fail loudly instead
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge within $maxIters rounds " +
          "(component diameter exceeds the cap); raise maxIters")
      labels
    } finally {
      if (checkpointDir.isDefined) prior.foreach(sc.setCheckpointDir)
    }
  }
}
