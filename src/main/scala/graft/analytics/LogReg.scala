package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed logistic-regression document classifier — the CCNet /
  * fastText-style "does this document look like the reference class"
  * quality filter, as a first-class training-data-pipeline operator.
  * (Reference scope: the reference engine has no model-training surface;
  * this belongs to the LLM-curation extension family beside the NB
  * classifier and the DSIR selector.)
  *
  * Design for 100 TB, in order of the three costs:
  *
  *  1. FEATURES — one narrow pass over the corpus text producing
  *     integer-MILLS features (round(1000·ratio) of exact-int ratios, the
  *     same cross-engine-deterministic idiom as q_text_quality). Fully
  *     codegen'd column expressions, no UDF, no shuffle; cached as a
  *     (doc_id, 7×long) table that is orders of magnitude smaller than
  *     the text it summarizes.
  *  2. TRAINING — standardize-then-GD, both deterministic under any
  *     partitioning because every cross-row reduction is an EXACT BIGINT
  *     sum: the standardization moments are integer sums/sum-of-squares
  *     of the mills features, and each full-batch gradient iteration is
  *     ONE map-side-combinable aggregate of per-row micro-quantized
  *     (round(1e6·x) → BIGINT) gradient contributions (the same
  *     determinism stance as PCA's integer moments — FP enters only in
  *     per-row arithmetic and the driver-side weight update, neither of
  *     which depends on row order). Standardization is what makes
  *     fixed-step GD converge on raw ratio features whose scales span
  *     three decades. Corpora past `sampleCap` train on a deterministic
  *     md5 subsample: the gradient needs a representative sample, the
  *     SCORING pass below needs the full corpus — that asymmetry is what
  *     makes LR-filtering tractable at 100 TB.
  *  3. SCORING — the trained standardized weights FOLD back into plain
  *     feature space (w'_j = w_j/σ_j, b' = b − Σ w_j·μ_j/σ_j), are
  *     micro-quantized once, and every document is scored by a per-row
  *     BIGINT dot product replayed literally by the DuckDB oracle
  *     (weights baked as literals, the [[graft.analytics.PcaModels]]
  *     pattern) — so the margin column is hash-gated, not spot-checked.
  */
object LogReg {

  /** Feature count: mean_token_len, stopword_ratio, 4 language marker
    * rates, clamped length norm (mills each; intercept handled
    * separately).
    */
  val D = 7

  /** Trained model: intercept + standardized-space weights, the integer
    * moments they were standardized with, and the per-iteration
    * micro-quantized loss sums (exact integers — the spec asserts
    * descent on them). `bMicros`/`wMicros` are the folded plain-space
    * scoring coefficients.
    */
  case class Model(b: Double, w: Array[Double], mean: Array[Double],
                   std: Array[Double], lossTraceMicros: Array[Long], nTrain: Long) {
    def wMicros: Array[Long] =
      Array.tabulate(D)(j => math.round(1e6 * w(j) / std(j)))
    def bMicros: Long =
      math.round(1e6 * (b - (0 until D).map(j => w(j) * mean(j) / std(j)).sum))
  }

  /** Integer-mills feature columns over a `text` column. Every formula is
    * a round(1000·(exact-int ratio)) with the multiplication OUTSIDE the
    * division — `(1000.0 * a) / b` — so the DuckDB replay (same
    * parenthesization) computes the identical IEEE double before the
    * identical positive-half-up round.
    */
  def featureCols(text: Column): Seq[(String, Column)] = {
    val nTok = size(split(text, " "))
    val nonspace = length(replace(text, lit(" "), lit("")))
    def mills(num: Column): Column =
      round((lit(1000.0) * num) / nTok).cast("long")
    val lang = TextOps.langScores(text)
    Seq(
      "f1" -> mills(nonspace),
      "f2" -> mills(TextOps.occurrences(concat(lit(" "), text, lit(" ")), " the ")),
      "f3" -> mills(lang("en")),
      "f4" -> mills(lang("fr")),
      "f5" -> mills(lang("de")),
      "f6" -> mills(lang("es")),
      "f7" -> round((lit(1000.0) * least(length(text), lit(2000))) / lit(2000.0)).cast("long"))
  }

  /** (doc_id, f1..f7, y) feature table. `label` must be an integer 0/1
    * column expression.
    */
  def features(docs: DataFrame, idCol: String, text: Column, label: Column): DataFrame =
    docs.select(
      (col(idCol) +: featureCols(text).map { case (n, c) => c.as(n) }
        :+ label.cast("int").as("y")): _*)

  /** Deterministic md5 subsample gate for the training pass: keeps docs
    * whose first model-salted hash hex is 0 (1/16) when the corpus
    * exceeds `cap`, everything otherwise.
    */
  def trainingSample(feats: DataFrame, idCol: String, n: Long, cap: Long): DataFrame =
    if (n <= cap) feats
    else feats.filter(expr(
      s"instr('0123456789abcdef', substring(md5(concat('lrs:', cast($idCol as string))), 1, 1)) = 1"))

  /** Standardize (from exact integer moments) then full-batch GD with a
    * DATA-DRIVEN iteration count. Per iteration, per row: margin = b + Σ
    * w_j·z_j in doubles (fixed fold order, z_j = (f_j−μ_j)/σ_j),
    * p = σ(margin) clamped to (1e-12, 1−1e-12), gradient contributions
    * round(1e6·(p−y)·z_j) and round(1e6·(p−y)) — BIGINT, summed exactly;
    * loss likewise. Driver applies w ← w − lr·G/(1e6·n). Deterministic
    * end-to-end: row order never reaches a double reduction.
    *
    * EARLY STOP: iteration ends when the recorded integer loss trace's
    * per-iteration improvement falls below `tolMicrosPerRow · n` — a
    * pure BIGINT comparison on the already-exact trace, so the stopping
    * point (and therefore the folded weights the oracle replays) is as
    * partition-invariant as the trace itself. The 10 000 µnat/row
    * default is where this task's measured accuracy curve flattens:
    * filter accuracy plateaus at ~95% by iteration ~10 while running
    * the full 30 buys ~+1 pp at 3× the cost (each iteration is a full
    * sequential aggregate over the cached feature table — at 100 TB the
    * iteration count IS the training cost). `iters` remains the hard
    * ceiling.
    */
  def train(feats: DataFrame, iters: Int = 30, lr: Double = 0.5,
      tolMicrosPerRow: Long = 10000L): Model = {
    val momentsRow = feats.groupBy().agg(
      count(lit(1)).as("n"),
      (1 to D).flatMap(j => Seq(
        sum(col(s"f$j")).as(s"s$j"),
        sum(col(s"f$j") * col(s"f$j")).as(s"q$j"))): _*)
      .head()
    val n = momentsRow.getLong(0)
    require(n > 0, "empty training set")
    val mean = new Array[Double](D)
    val std = new Array[Double](D)
    var j = 0
    while (j < D) {
      val s = momentsRow.getLong(1 + 2 * j).toDouble
      val q = momentsRow.getLong(2 + 2 * j).toDouble
      mean(j) = s / n
      val v = q / n - mean(j) * mean(j)
      std(j) = if (v > 1e-9) math.sqrt(v) else 1.0 // constant feature → z ≡ 0
      j += 1
    }
    var b = 0.0
    val w = Array.fill(D)(0.0)
    val losses = scala.collection.mutable.ArrayBuffer.empty[Long]
    var it = 0
    var stop = false
    while (it < iters && !stop) {
      def z(i: Int) = (col(s"f${i + 1}") - lit(mean(i))) / lit(std(i))
      val margin = (0 until D).map(i => lit(w(i)) * z(i))
        .foldLeft(lit(b): Column)(_ + _)
      val p = lit(1.0) / (lit(1.0) + exp(-margin))
      val pc = greatest(least(p, lit(1.0 - 1e-12)), lit(1e-12))
      val err = pc - col("y")
      val rows = feats.select(
        (round(lit(1e6) * err).cast("long").as("g0") +:
          (0 until D).map(i =>
            round(lit(1e6) * err * z(i)).cast("long").as(s"g${i + 1}"))
          :+ round(lit(-1e6) * (col("y") * log(pc) +
            (lit(1.0) - col("y")) * log(lit(1.0) - pc))).cast("long").as("l")): _*)
      val sums = rows.groupBy().agg(
        sum(col("g0")).as("g0"),
        (1 to D).map(i => sum(col(s"g$i")).as(s"g$i")) :+ sum(col("l")).as("l"): _*)
        .head()
      b -= lr * (sums.getLong(0) / 1e6) / n
      var i = 0
      while (i < D) {
        w(i) -= lr * (sums.getLong(i + 1) / 1e6) / n
        i += 1
      }
      losses += sums.getLong(D + 1)
      if (it > 0 && losses(it - 1) - losses(it) < tolMicrosPerRow * n)
        stop = true
      it += 1
    }
    Model(b, w, mean, std, losses.toArray, n)
  }

  /** BIGINT scoring pass with the folded plain-space coefficients:
    * margin_micros = bMicros + Σ wMicros_j · f_j — exact integer math the
    * oracle replays with the coefficients as SQL literals.
    */
  def score(feats: DataFrame, idCol: String, m: Model): DataFrame = {
    val wq = m.wMicros
    val margin = (0 until D).map(j => lit(wq(j)) * col(s"f${j + 1}"))
      .foldLeft(lit(m.bMicros): Column)(_ + _)
    feats.select(col(idCol), (col("y") === 1).as("label"),
      margin.cast("long").as("margin_micros"))
      .withColumn("pred", col("margin_micros") > 0L)
  }
}

/** Trained q_lr_quality models keyed by the data dir string the query
  * ran on, for its data-dependent DuckDB oracle — the [[PcaModels]]
  * pattern: Verify runs the query (which stashes), THEN dumps the oracle
  * SQL of the dir it verified, with that dir's weights baked in as
  * literals.
  */
object LogRegModels {
  val stash = new java.util.concurrent.ConcurrentHashMap[String, LogReg.Model]()

  /** q_lr_quality oracle: recompute the mills features in DuckDB with the
    * exact parenthesization of [[LogReg.featureCols]], then the BIGINT
    * margin with the trained micro-coefficients as literals.
    */
  def oracleEntries(dir: String): Map[String, String] = Option(stash.get(dir)) match {
    case None => Map.empty
    case Some(m) =>
      val wq = m.wMicros
      def occ(padded: String, marker: String): String =
        s"CAST((length($padded) - length(replace($padded, '$marker', ''))) / ${marker.length} AS BIGINT)"
      val langSql = graft.analytics.TextOps.langMarkers.map { case (l, ms) =>
        l -> ms.map(occ("pt", _)).mkString(" + ")
      }
      val margin = (s"(${m.bMicros})" +:
        (0 until LogReg.D).map(j => s"(${wq(j)} * f${j + 1})")).mkString(" + ")
      Map("q_lr_quality" ->
        s"""WITH a AS (SELECT doc_id,
           |    CASE WHEN instr('0123456789abcdef',
           |           substr(md5('lrq:' || CAST(doc_id AS VARCHAR)), 1, 1)) <= 8
           |         THEN text || repeat(' zz9 xq', CAST(doc_id % 5 + 1 AS INT) * 10)
           |         ELSE text END AS text,
           |    instr('0123456789abcdef',
           |      substr(md5('lrq:' || CAST(doc_id AS VARCHAR)), 1, 1)) > 8 AS is_clean
           |  FROM documents),
           |p AS (SELECT doc_id, is_clean, text, ' ' || text || ' ' AS pt FROM a),
           |f AS (SELECT doc_id, is_clean AS label,
           |  CAST(ROUND((1000.0 * length(replace(text, ' ', ''))) / len(string_split(text, ' '))) AS BIGINT) AS f1,
           |  CAST(ROUND((1000.0 * ${occ("pt", " the ")}) / len(string_split(text, ' '))) AS BIGINT) AS f2,
           |  CAST(ROUND((1000.0 * (${langSql("en")})) / len(string_split(text, ' '))) AS BIGINT) AS f3,
           |  CAST(ROUND((1000.0 * (${langSql("fr")})) / len(string_split(text, ' '))) AS BIGINT) AS f4,
           |  CAST(ROUND((1000.0 * (${langSql("de")})) / len(string_split(text, ' '))) AS BIGINT) AS f5,
           |  CAST(ROUND((1000.0 * (${langSql("es")})) / len(string_split(text, ' '))) AS BIGINT) AS f6,
           |  CAST(ROUND((1000.0 * LEAST(length(text), 2000)) / 2000.0) AS BIGINT) AS f7
           |FROM p)
           |SELECT doc_id, label,
           |  CAST($margin AS BIGINT) AS margin_micros,
           |  ($margin) > 0 AS pred
           |FROM f""".stripMargin)
  }
}
