package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine classifier training — the "fit the quality filter on the
  * corpus you're about to filter" step of a training-data pipeline
  * (fastText-style quality scorers, contamination classifiers, language
  * gates) expressed as plain aggregation plans, so the same engine that
  * runs the corpus queries also fits the model that curates it.
  *
  * Batch gradient descent on logistic loss: per iteration ONE
  * map-side-combined aggregation computes the full-batch gradient
  * (k+1 sums + a count), and the weight vector rides between iterations
  * as a 1-row frame crossed in via the sanctioned corpus-constant
  * broadcast (the `Graph.pageRank` N pattern) — no driver round-trip,
  * no collect, plan-unrolled like the other fixed-iteration operators.
  * Work per iteration ∝ corpus scan; at 100 TB the gradient shuffle
  * carries one (k+2)-value buffer per partition.
  *
  * Cross-engine exactness: per-row gradient terms `xⱼ·(σ(w·x) − y)`
  * quantize to DECIMAL(30,10) before summing (order-proof — the
  * q_resample_agg discipline), so each iteration's weight vector derives
  * from exactly-agreed sums through a fixed sequence of IEEE ops; libm
  * ulp divergence (exp) is absorbed by the 10dp quantization except on
  * measure-zero boundary rows.
  */
object Classifier {

  /** Fit `iterations` full-batch GD steps of logistic regression from
    * zero weights; returns ONE row: `n`, `w0` (bias), `w1..wk` (one per
    * feature), and the final mean log-loss `loss` (computed at the
    * returned weights). `label` must be 0/1; features should be
    * roughly unit-scale for a fixed `lr` to behave. */
  def logisticFit(df: DataFrame, label: Column, features: Seq[Column],
      iterations: Int = 3, lr: Double = 0.1): DataFrame = {
    require(features.nonEmpty, "need at least one feature column")
    val k = features.size
    val base = df.select((label.cast("double").as("y") +:
      features.zipWithIndex.map { case (f, i) => f.cast("double").as(s"x$i") }): _*)
    val wf = fitWeights(base, k, iterations, lr)
    val fin = base.crossJoin(broadcast(wf))
    val perRowLoss = -(col("y") * log(sigmaK(k)) +
      (lit(1.0) - col("y")) * log(lit(1.0) - sigmaK(k)))
    fin.agg(
      count(lit(1)).as("n"),
      (Seq(sum(perRowLoss.cast("decimal(30,10)")).as("lsum")) ++
        (0 to k).map(j => max(col(s"w$j")).as(s"fw$j"))): _*)
      .select((col("n") +:
        (0 to k).map(j =>
          (floor(col(s"fw$j") * 10000) / 10000).as(s"w$j")) :+
        (floor(col("lsum").cast("double") / col("n") * 10000) / 10000).as("loss")): _*)
  }

  /** The shared GD recurrence: `iterations` full-batch steps from zero
    * weights over a `base` frame with columns `y, x0..x{k-1}`; returns
    * the 1-row RAW (unfloored) weight frame `w0..wk`. Each iteration's
    * weights are a fixed IEEE expression over DECIMAL(30,10)-quantized
    * gradient sums, so the vector is bit-identical on any engine
    * replaying the unrolled recurrence. */
  private def fitWeights(base: DataFrame, k: Int, iterations: Int,
      lr: Double): DataFrame = {
    require(iterations >= 1, s"iterations must be ≥1, got $iterations")
    require(lr > 0, s"lr must be positive, got $lr")
    var wf: DataFrame = base.sparkSession.range(1)
      .select((0 to k).map(j => lit(0.0).as(s"w$j")): _*)
    for (_ <- 1 to iterations) {
      val joined = base.crossJoin(broadcast(wf))
      val aggCols =
        (0 to k).map { j =>
          val xj = if (j == 0) lit(1.0) else col(s"x${j - 1}")
          sum((xj * (sigmaK(k) - col("y"))).cast("decimal(30,10)")).as(s"g$j")
        } ++ (0 to k).map(j => max(col(s"w$j")).as(s"pw$j"))
      val agg = joined.agg(count(lit(1)).as("n"), aggCols: _*)
      wf = agg.select((0 to k).map(j =>
        (col(s"pw$j") - lit(lr) * (col(s"g$j").cast("double") / col("n")))
          .as(s"w$j")): _*)
    }
    wf
  }

  /** In-engine AUC of the logistic gate: fit the same `iterations` GD
    * steps as [[logisticFit]], score every row with the RAW weights,
    * and compute the exact ROC AUC from the rank statistic
    * AUC = U₁ / (n₁·n₀) — the threshold-free quality readout of the
    * filter ("does the score actually order positives above
    * negatives?"), computed WITHOUT materializing a single (pos, neg)
    * pair: U₁ comes from [[Drift.mannWhitney]]'s distributed bucketed
    * rank scan (ties counted half, the exact AUC convention).
    *
    * Exactness: scores quantize to DECIMAL(30,10) per row BEFORE
    * becoming rank keys (weights are bit-identical by the
    * [[logisticFit]] induction; libm-ulp divergence in exp is absorbed
    * except on measure-zero boundary rows — the documented class), so
    * both engines rank identical keys and U₁ is integer-exact; AUC is
    * one final division floor-4dp. Returns one row
    * (n_pos, n_neg, auc). */
  def logisticAuc(df: DataFrame, label: Column, features: Seq[Column],
      iterations: Int = 3, lr: Double = 0.1): DataFrame = {
    require(features.nonEmpty, "need at least one feature column")
    val k = features.size
    val base = df.select((label.cast("double").as("y") +:
      features.zipWithIndex.map { case (f, i) => f.cast("double").as(s"x$i") }): _*)
    val wf = fitWeights(base, k, iterations, lr)
    val z = col("w0") + (0 until k).map(i => col(s"w${i + 1}") * col(s"x$i"))
      .reduce(_ + _)
    val scored = base.crossJoin(broadcast(wf))
      .select(col("y").cast("int").cast("string").as("lab"),
        z.cast("decimal(30,10)").as("score"))
    Drift.mannWhitney(scored, "score", "lab", labelA = "1", labelB = "0")
      .select(col("n_a").as("n_pos"), col("n_b").as("n_neg"),
        (floor(col("u") / (col("n_a") * col("n_b")) * 10000) / 10000).as("auc"))
  }

  /** σ(w·x) over the `w0..wk` / `x0..x{k-1}` column convention. */
  private def sigmaK(k: Int): Column = {
    val z = col("w0") + (0 until k).map(i => col(s"w${i + 1}") * col(s"x$i"))
      .reduce(_ + _)
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Multinomial Naive Bayes trained AND evaluated in-engine: fit add-1
    * smoothed per-class token likelihoods on (`textCol`, `labelCol`),
    * score every document against every class, and return the confusion
    * matrix (`actual`, `predicted`, `n_docs`) — the train-on-the-corpus
    * language/quality gate (the bag-of-words baseline a fastText-style
    * filter starts from), reported at the class-cardinality size the
    * driver can oracle exactly.
    *
    * score(d, c) = ln(docs_c/docs) + Σ_w tf_{w,d} · ln((c_{w,c}+1)/(N_c+V))
    * with the vocabulary V global (unseen class-terms get the smoothing
    * floor). Docs with no tokens (or null label) are excluded.
    *
    * Scale shape: token stream aggregates once to the per-doc tf frame
    * and once to the (class, term) count frame; likelihoods evaluate
    * once per (term, class) on the vocab × class spine (the margin-
    * cardinality contingency cross, the [[Drift]] chi² exemption
    * class — class count is a handful, never corpus-sized); scoring is
    * one equi-join of the tf frame to the spine keyed by term (fan-out
    * = class count per doc-term) and one (doc, class) aggregate. No
    * all-pairs anything; the model never leaves the cluster.
    *
    * Cross-engine exactness (the `importanceWeights` discipline): the
    * smoothed ratio is exact-integer numerator/denominator, ONE ln per
    * (term, class) quantized to DECIMAL(30,10) before any sum; per-doc
    * scores are order-proof DECIMAL sums of tf · lnp plus the
    * DECIMAL-quantized prior, so the per-doc argmax (ties → class asc)
    * compares exactly-agreed decimals and the confusion matrix is
    * engine-exact. */
  def naiveBayesConfusion(df: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NOT spread (r14): toks feeds two separately-scheduled consumers
    // (the eager classTerm checkpoint and the tf aggregate), so a spread
    // exchange would re-execute once per job, shuffling the full text
    // twice — measured slower than the serialized explode it replaces
    val toks = df
      .filter(col(textCol).isNotNull && col(labelCol).isNotNull)
      .select(col(idCol).as("id"), col(labelCol).as("actual"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy("id", "actual", "term").agg(count(lit(1)).as("tf"))
    val classTerm = toks.groupBy("actual", "term").agg(count(lit(1)).as("ct"))
      .transform(Ckpt.apply)
    val classTotals = classTerm.groupBy(col("actual").as("cls"))
      .agg(sum("ct").as("n_c"))
    val vocabN = classTerm.select("term").distinct()
      .agg(count(lit(1)).as("v"))
    // priors over the docs actually in the model (≥1 non-empty token),
    // so "documents" means one thing on both the Spark and oracle side
    val priors = tf.select("id", "actual").distinct()
      .groupBy(col("actual").as("cls")).agg(count(lit(1)).as("dc"))
    val priorTot = priors.agg(sum("dc").as("dtot"))
    // vocab × class spine: evaluate each smoothed likelihood ONCE per
    // (term, class); absent cells take the add-1 floor via coalesce-0
    val spine = classTerm.select("term").distinct()
      .crossJoin(classTotals.crossJoin(broadcast(vocabN)))
      .join(classTerm.withColumnRenamed("actual", "cls"), Seq("cls", "term"), "left")
      .select(col("term"), col("cls"),
        log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
          (col("n_c") + col("v")).cast("double"))
          .cast("decimal(30,10)").as("lnp"))
    val priorLn = priors.crossJoin(broadcast(priorTot))
      .select(col("cls"),
        log(col("dc").cast("double") / col("dtot").cast("double"))
          .cast("decimal(30,10)").as("lprior"))
    // contribution = tf · lnp as ONE double multiply of exactly-agreed
    // operands (lnp already quantized to DECIMAL(30,10)), re-quantized
    // before the order-proof decimal sum — decimal×decimal is avoided
    // because engines disagree on product precision/scale promotion
    val scores = tf.join(spine, "term")
      .groupBy("id", "actual", "cls")
      .agg(sum((col("tf").cast("double") * col("lnp").cast("double"))
        .cast("decimal(30,10)")).as("lsum"))
      .join(priorLn, "cls")
      .withColumn("score", col("lsum") + col("lprior"))
    val pred = scores.withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("score").desc, col("cls").asc)))
      .filter(col("rn") === 1)
    pred.groupBy(col("actual"), col("cls").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }
}
