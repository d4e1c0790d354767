package graft.queries

import graft.Tables
import graft.ext.Evaluate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation queries (SURVEY §2.13; reference mllib/evaluation —
  * with s17's MulticlassMetrics these close the directory 6-for-6):
  * threshold-sweep binary metrics + AUC, regression metrics over the s14
  * OLS fit, ranking metrics over a purchase-count recommender, and
  * multilabel metrics over token-set labels. Implementations in
  * [[graft.ext.Evaluate]]; every metric reaches the oracle as an exact
  * integer (micro/milli units), so the hash gate covers the full metric
  * arithmetic, not just row counts.
  */
object MlEval {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Binary classifier evaluation (reference mllib/evaluation/
    // BinaryClassificationMetrics.scala:84 roc / :96 areaUnderROC / :205
    // confusion sweep): score = total order quantity, label = the s19
    // noisy boundary — the score ranks well but imperfectly (the 5·hash
    // noise term is invisible to it), so the curve and the tie-aware
    // trapezoid AUC are non-degenerate. One row per distinct score.
    "s28_binary_metrics" -> { (s, dir) =>
      val scored = ordersQty(s, dir).selectExpr(
        "qty AS score",
        "CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 130 THEN 1 ELSE 0 END AS BIGINT) AS label")
      Evaluate.binaryMetrics(scored).orderBy(col("thr").desc)
    },

    // Precision-recall curve + areaUnderPR (reference
    // BinaryClassificationMetrics.scala:104 pr / :115 areaUnderPR /
    // :128 fMeasureByThreshold — the LAST public metrics of the class
    // next to s28's ROC/AUC): the same imperfect-score fixture, the
    // reference's (recall 0, precision 1) curve start, exact-integer
    // F1 per threshold, and the per-point micro-rounded trapezoid area
    // riding every row.
    "s92_pr_curve_auc" -> { (s, dir) =>
      val scored = ordersQty(s, dir).selectExpr(
        "qty AS score",
        "CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 130 THEN 1 ELSE 0 END AS BIGINT) AS label")
      Evaluate.prMetrics(scored).orderBy(col("thr").desc)
    },

    // The numBins curve-downsampling leg of s28 (reference
    // BinaryClassificationMetrics.scala:157-165, the `numBins`
    // constructor knob): score = raw order price in CENTS — 14999
    // distinct values at sf0.01, the continuous shape whose exact curve
    // the sweep windows must not carry — down-grouped to ~20 equal-count
    // points (grouping = 14999 DIV 20 = 749 consecutive scores per
    // point, first-score representative, counts summed) before the
    // cumulative sweep. The label's hash-noise term keeps the curve
    // non-degenerate. Every curve point + the binned trapezoid AUC is
    // value-gated against the same grouping rule in SQL.
    "s77_binned_pr_curve" -> { (s, dir) =>
      val scored = Tables.orders(s, dir).selectExpr(
        "CAST(round(o_totalprice * 100) AS BIGINT) AS score",
        "CAST(CASE WHEN CAST(round(o_totalprice) AS BIGINT) + 500 * (o_orderkey % 13) > 180000" +
          " THEN 1 ELSE 0 END AS BIGINT) AS label")
      Evaluate.binaryMetrics(scored, numBins = 20).orderBy(col("thr").desc)
    },

    // Regression evaluation (reference mllib/evaluation/RegressionMetrics
    // .scala:80/:89/:98/:107): the s14 OLS problem re-fit in WHOLE DOLLARS
    // (so Σe² keeps BIGINT headroom to ~sf100), scored over the full
    // order set, then one aggregate row of MAE/MSE/RMSE/R².
    "s29_regression_metrics" -> { (s, dir) =>
      val feats = dollarFeats(s, dir)
      val betas = graft.ext.Learn.olsFit2(feats)
      val preds = graft.ext.Learn.olsPredict2(feats, betas, "o_orderkey")
      Evaluate.regressionMetrics(preds, "y", "predq")
    },

    // Ranking evaluation (reference mllib/evaluation/RankingMetrics
    // .scala:60 precisionAt / :130 ndcgAt): predicted = each cohort
    // customer's top-5 suppliers by purchase count (tiebreak suppkey),
    // relevant = suppliers that shipped the customer a RETURNED item —
    // a genuinely different facet of the data, so hits are partial.
    // Per-customer P@5 / AP / NDCG@5 rows, all integer micro-units.
    "s30_ranking_metrics" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_custkey") <= 300)
      val pred = li.groupBy(col("o_custkey").as("key"), col("l_suppkey").as("item"))
        .agg(count(lit(1)).as("c"))
        .select(col("key"), col("item"),
          row_number().over(Window.partitionBy("key")
            .orderBy(col("c").desc, col("item"))).cast("long").as("rnk"))
        .filter(col("rnk") <= 5)
      val rel = li.filter(col("l_returnflag") === "R")
        .select(col("o_custkey").as("key"), col("l_suppkey").as("item"))
        .distinct()
      Evaluate.rankingMetrics(pred, rel, 5).orderBy("key")
    },

    // The corpus means RankingMetrics actually returns (reference
    // RankingMetrics.scala:60 precisionAt / :96 meanAveragePrecision /
    // :130 ndcgAt — each the mean over the query set of s30's per-query
    // values): one row of integer means, floors before the mean (the
    // s93 convention).
    "s94_ranking_means" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_custkey") <= 300)
      val pred = li.groupBy(col("o_custkey").as("key"), col("l_suppkey").as("item"))
        .agg(count(lit(1)).as("c"))
        .select(col("key"), col("item"),
          row_number().over(Window.partitionBy("key")
            .orderBy(col("c").desc, col("item"))).cast("long").as("rnk"))
        .filter(col("rnk") <= 5)
      val rel = li.filter(col("l_returnflag") === "R")
        .select(col("o_custkey").as("key"), col("l_suppkey").as("item"))
        .distinct()
      Evaluate.rankingMeans(pred, rel, 5)
    },

    // Multilabel evaluation (reference mllib/evaluation/MultilabelMetrics
    // .scala): labels = the corpus's top-5 tokens (data-derived,
    // deterministic tiebreak); a document's ACTUAL set = labels present
    // anywhere in its text, PREDICTED set = labels present in its first
    // half — a real degraded predictor. One corpus row of subset
    // accuracy / Hamming / IoU accuracy / micro P-R-F1.
    // Isotonic regression (reference mllib/regression/IsotonicRegression
    // .scala:324 poolAdjacentViolators / :409 parallel): mean order value
    // (whole dollars) as a monotone function of the quantity decile —
    // genuinely increasing with enough noise that several deciles pool.
    // The minimax-PAVA evaluation is fully relational (Learn.isotonicFit
    // scaladoc has the d³ boundedness argument); level_micro is exactly
    // round(1e6 · the PAVA level).
    "s32_isotonic_regression" -> { (s, dir) =>
      val rows = dollarFeats(s, dir)
        .selectExpr("CAST(x2 DIV 10 AS BIGINT) AS x", "y")
      graft.ext.Learn.isotonicFit(rows, "x", "y").orderBy("x")
    },

    // The antitonic leg (reference IsotonicRegression.scala:268
    // setIsotonic(false); run(:284) negates the label, PAVAs, negates
    // back — closing s32's increasing-only coverage): the s32 relation
    // INVERTED (700000 − dollars, a declared synthetic inversion so the
    // decreasing trend genuinely pools several deciles), fitted
    // non-increasing. sy gates the ORIGINAL sums; level_micro is
    // exactly −round(1e6 · PAVA level of −y) — round is odd, so the
    // double negation is bit-exact.
    "s79_antitonic_regression" -> { (s, dir) =>
      val rows = dollarFeats(s, dir)
        .selectExpr("CAST(x2 DIV 10 AS BIGINT) AS x",
          "CAST(700000 - y AS BIGINT) AS y")
      graft.ext.Learn.antitonicFit(rows, "x", "y").orderBy("x")
    },

    // Lasso (reference mllib/regression/Lasso.scala:88 + optimization/
    // Updater.scala L1Updater): 8 ISTA iterations — full-batch squared-
    // loss gradient step + integer soft-threshold (elastic net at
    // alpha = 1) — on the s19 feature
    // base against the qty-derived noisy target (w2 converges toward the
    // true slope 10; the L1 shrink visibly bites w1). The support
    // decision (which weights hit exactly zero) is an integer compare,
    // so it cannot drift between engines. Cohort scoring like s14.
    "s33_lasso" -> { (s, dir) =>
      val feats = lassoFeats(s, dir)
      val w = graft.ext.Learn.elasticNetFit2(feats, iters = 8, lr = 0.002,
        lambda = 20.0, alpha = 1.0)
      graft.ext.Learn.linPredict2(feats.filter(col("o_orderkey") <= 4000), w, "o_orderkey")
        .orderBy("o_orderkey")
    },

    // Elastic-net regression (reference ml/regression/LinearRegression
    // .scala:113-114 setElasticNetParam — the mixed L1+L2 penalty):
    // s33's ISTA loop with the mixed proximal step at alpha = 0.5 —
    // soft-threshold by lr*lambda*alpha then the L2 shrink division.
    // Same feature base and cohort scoring as s33, so the two gated
    // rows differ exactly by the penalty mix.
    "s98_elastic_net" -> { (s, dir) =>
      val feats = lassoFeats(s, dir)
      val w = graft.ext.Learn.elasticNetFit2(feats, iters = 8, lr = 0.002,
        lambda = 20.0, alpha = 0.5)
      graft.ext.Learn.linPredict2(feats.filter(col("o_orderkey") <= 4000), w, "o_orderkey")
        .orderBy("o_orderkey")
    },

    // Two-topic PLSA (reference mllib/clustering/LDA.scala:46 via the
    // EMLDAOptimizer path, LDAOptimizer.scala:79/:150 — deviations
    // declared in Clustering's K-topic PLSA section): plsaTopicsK at
    // K = 2, two integer-exact EM iterations over the document-term
    // counts, parity-seeded mixtures; top-8 words per topic with their
    // micro emission weights.
    "s38_plsa_topics" -> { (s, dir) =>
      graft.ext.Clustering.plsaTopicsK(Tables.documents(s, dir),
          "doc_id", "text", kTot = 2, iters = 2, topK = 8)
        .orderBy("topic", "rnk")
    },

    // Smoothed LDA EM (reference mllib/clustering/LDA.scala:418
    // computePTopic + LDAOptimizer.scala:150 next — the reference's
    // ACTUAL Dirichlet-smoothed EM with its default priors α = 26,
    // η = 1.1, closing s38's declared no-smoothing deviation; remaining
    // deviations in Clustering's K-topic smoothed LDA section):
    // ldaTopicsK at K = 2, two iterations over the document-term counts,
    // expected-count state in exact micro integers, the E-step ratio one
    // shared double formula string.
    "s46_lda_topics" -> { (s, dir) =>
      graft.ext.Clustering.ldaTopicsK(Tables.documents(s, dir),
          "doc_id", "text", kTot = 2, iters = 2, topK = 8)
        .orderBy("topic", "rnk")
    },

    // ONLINE variational LDA (reference LDAOptimizer.scala:231
    // OnlineLDAOptimizer / :538 variationalTopicInference / :467
    // updateLambda — the second registered optimizer, closing the
    // s38/s46 EM-only coverage; deviations declared in Clustering's
    // K-topic online LDA section): onlineLdaTopicsK at K = 2, two
    // minibatch iterations over disjoint hash-residue quarters of the
    // corpus, one quantized γ update per doc, sufficient statistics
    // blended into λ at ρ_t = (1024 + t)^−0.51. Top-8 terms per topic
    // by λ.
    "s75_online_lda" -> { (s, dir) =>
      graft.ext.Clustering.onlineLdaTopicsK(Tables.documents(s, dir),
          "doc_id", "text", kTot = 2, iters = 2, topK = 8)
        .orderBy("topic", "rnk")
    },

    // logPerplexity of the fitted online model (reference
    // LDAModel.scala:255 logPerplexity = −logLikelihood / corpus
    // tokens, :235 via the variational bound): the s75 fit (the K = 2
    // online state), per-doc inference over the FULL corpus against the
    // final λ, then the bound's token term with one milli-rounded ln per
    // cell and exp(−mean) at the end.
    // The Dirichlet prior/entropy terms need lgamma (absent from Spark
    // SQL) and are omitted — declared in
    // Clustering.onlineLdaPerplexity's scaladoc.
    "s82_lda_perplexity" -> { (s, dir) =>
      graft.ext.Clustering.onlineLdaPerplexity(Tables.documents(s, dir),
        "doc_id", "text", iters = 2)
    },

    // Word2vec skip-gram thin-slice (reference mllib/feature/
    // Word2Vec.scala:41 — minCount-pruned vocabulary :139, ±window
    // center/context pairs :320, sigmoid gradient steps :340; the
    // negative-sampling objective and the other declared deviations in
    // Learn.word2vecD's section comment): top-30 vocabulary over
    // documents, 2-component vectors, one full-batch quantized step, the
    // joined in/out vectors for the 20 most frequent tokens.
    "s48_word2vec" -> { (s, dir) =>
      graft.ext.Learn.word2vecD(Tables.documents(s, dir), "doc_id", "text",
          vocabN = 30, window = 2, lr = 0.025, topK = 20, dims = 2)
        .orderBy("rnk")
    },

    // General-dimension word2vec (reference mllib/feature/Word2Vec
    // .scala:41 — vectorSize is the model's headline parameter, default
    // 100; s48 fixes 2): the same skip-gram negative-sampling chain at
    // dims = 3. The hierarchical-softmax deviation stays declared; this
    // row closes the vector-dimension axis.
    "s113_word2vec_dim" -> { (s, dir) =>
      graft.ext.Learn.word2vecD(Tables.documents(s, dir), "doc_id", "text",
          vocabN = 30, window = 2, lr = 0.025, topK = 20, dims = 3)
        .orderBy("rnk")
    },

    // Gaussian mixture EM (reference mllib/clustering/GaussianMixture
    // .scala:161 run / :198 ExpectationSum / :238 update; the 1-D
    // shared-variance thin-slice deviations are declared in
    // Clustering.gmmFit1d's scaladoc): three EM iterations over order
    // totals in thousand-dollar buckets, sigmoid responsibilities in
    // exact micro integers. Two rows (comp, weight, mean, hard count) —
    // the whole training loop is oracle-gated through them.
    "s35_gaussian_mixture" -> { (s, dir) =>
      val xs = Tables.orders(s, dir)
        .selectExpr("CAST(CAST(round(o_totalprice) AS BIGINT) DIV 1000 AS BIGINT) AS x")
      graft.ext.Clustering.gmmFit1d(xs, iters = 3).orderBy("comp")
    },

    // Multivariate (2-D, FULL-covariance) Gaussian mixture EM (reference
    // mllib/clustering/GaussianMixture.scala:161 run, density via
    // MultivariateGaussian — closed-form 2×2 Σ⁻¹/det as shared formula
    // strings; deviations declared in Clustering.gmmFit2d's scaladoc):
    // three EM iterations over (quantity, price-in-thousands) — a
    // strongly correlated pair where the off-diagonal entry carries real
    // signal. Two rows with weight, mean vector, full covariance and
    // hard counts — the whole training loop oracle-gated through them.
    "s96_gmm_2d" -> { (s, dir) =>
      val xs = Tables.lineitem(s, dir).selectExpr(
        "CAST(round(l_quantity * 1000.0) AS BIGINT) AS x",
        "CAST(round(l_extendedprice) AS BIGINT) AS y")
      graft.ext.Clustering.gmmFit2d(xs, iters = 3).orderBy("comp")
    },

    // K-topic ONLINE variational LDA (LDAOptimizer.scala:231 takes k
    // from the enclosing LDA; s75/s82 fix K = 2 — the last online-path
    // topic scaffolding): three topics, per-topic column loops over the
    // same ratio/fraction/blend strings (no complement — the
    // reference's λ stores all K rows, and so does this state). The
    // same kernel runs s75/s82 at K = 2.
    "s117_online_lda_k3" -> { (s, dir) =>
      graft.ext.Clustering.onlineLdaTopicsK(Tables.documents(s, dir),
          "doc_id", "text", kTot = 3, iters = 2, topK = 8)
        .orderBy("topic", "rnk")
    },

    // K-topic PLSA EM (reference LDA.scala's k parameter applied to
    // s38's declared PLSA model class — the alpha = eta -> 1 limit;
    // K-1 stored mixtures, complement sum columns, integer-only
    // E-step whose K = 2 instantiation is value-identical to
    // plsaRespExpr). The same kernel runs s38 at K = 2.
    "s115_plsa_k3" -> { (s, dir) =>
      graft.ext.Clustering.plsaTopicsK(Tables.documents(s, dir),
          "doc_id", "text", kTot = 3, iters = 2, topK = 8)
        .orderBy("topic", "rnk")
    },

    // K-topic smoothed LDA EM (reference mllib/clustering/LDA.scala —
    // `k` is the headline parameter, :131 setK; every earlier LDA row
    // fixed K = 2): three topics over the documents corpus, topic 3
    // the exact complement, responsibility the generated K-fold ratio
    // with the reference's K-dependent prior α = 50/K + 1 as a shared
    // double literal. The same kernel runs s46 at K = 2.
    "s111_lda_k3" -> { (s, dir) =>
      graft.ext.Clustering.ldaTopicsK(Tables.documents(s, dir),
          "doc_id", "text", kTot = 3, iters = 2, topK = 8)
        .orderBy("topic", "rnk")
    },

    // 3-D full-covariance Gaussian mixture (the d axis of GmmKd pushed
    // past the closed 2×2: det/Mahalanobis via the generated symmetric
    // 3×3 cofactor algebra): two components over (quantity, price,
    // discount), all six covariance entries carried and gated.
    // GmmKdSpec separates planted anisotropic 3-D clusters with exact
    // hard counts and checks the fitted Σ is positive-definite.
    "s116_gmm_3d" -> { (s, dir) =>
      val xs = Tables.lineitem(s, dir).selectExpr(
        "CAST(round(l_quantity * 1000.0) AS BIGINT) AS x",
        "CAST(round(l_extendedprice) AS BIGINT) AS y",
        "CAST(round(l_discount * 100000.0) AS BIGINT) AS z")
      graft.ext.GmmKd.gmmFitKd(xs, d = 3, kTot = 2, iters = 3).orderBy("comp")
    },

    // Joint (d, K) Gaussian mixture — 2-D, THREE components, full
    // covariance each (reference mllib/clustering/GaussianMixture
    // .scala:161 run: the reference model is d-dimensional AND
    // K-component at once; s96/s101 hold the axes separately and
    // GmmKd.gmmFitKd generates both jointly — GmmKdSpec pins the
    // (2, 2) and (1, 3) slices equal to the legacy fitted output).
    // Three EM iterations over the same correlated (quantity,
    // price) pair as s96, now with a middle component to absorb the
    // mid-price mass; all three covariances carried in full.
    "s110_gmm_kd" -> { (s, dir) =>
      val xs = Tables.lineitem(s, dir).selectExpr(
        "CAST(round(l_quantity * 1000.0) AS BIGINT) AS x",
        "CAST(round(l_extendedprice) AS BIGINT) AS y")
      graft.ext.GmmKd.gmmFitKd(xs, d = 2, kTot = 3, iters = 3).orderBy("comp")
    },

    // THREE-component heteroscedastic 1-D Gaussian mixture (reference
    // GaussianMixture.scala:161 run with arbitrary k and a variance PER
    // component — closes both of s35's declared thin-slice deviations,
    // k = 2 and the pooled variance; softmax responsibilities
    // max-shifted, third component by exact complement; init from the
    // half-mean three-region split, conventions in gmmFit1dK3's scaladoc):
    // three EM iterations over the same thousand-dollar order buckets
    // as s35, so the two gated rows differ exactly by the model class.
    "s101_gmm_k3" -> { (s, dir) =>
      val xs = Tables.orders(s, dir)
        .selectExpr("CAST(CAST(round(o_totalprice) AS BIGINT) DIV 1000 AS BIGINT) AS x")
      graft.ext.Clustering.gmmFit1dK3(xs, iters = 3).orderBy("comp")
    },

    // Chi-squared feature selection (reference mllib/feature/
    // ChiSqSelector.scala:181; model contract :44 requires ascending
    // selected indices — hence the final token sort): the 10 tokens whose
    // document presence depends most on language. Margins and cells are
    // exact counts; the statistic is the sum of micro-quantized cell
    // terms (Learn.chiPairExpr shared with the oracle).
    "s34_chisq_selector" -> { (s, dir) =>
      graft.ext.Learn.chiSqSelect(Tables.documents(s, dir),
          "doc_id", "text", "lang", 10)
        .orderBy("tok")
    },

    "s31_multilabel_metrics" -> { (s, dir) =>
      // spread: the cells projection does two per-row split()s of the
      // full text per vocab term (Tables.documentsSpread scaladoc)
      val docs = Tables.documentsSpread(s, dir)
      // top-5 vocab via orderBy+limit (TakeOrderedAndProject: per-partition
      // top-k then a bounded merge), NOT a global-window rank — the rank
      // window would funnel the whole distinct-token table through one
      // partition
      val vocab = docs.select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(5)
        .select("tok")
      val cells = docs.crossJoin(broadcast(vocab))
        .selectExpr("doc_id AS key", "tok",
          "CAST(CASE WHEN array_contains(split(text, ' '), tok) THEN 1 ELSE 0 END AS BIGINT) AS in_actual",
          "CAST(CASE WHEN array_contains(split(substring(text, 1, CAST(n_chars DIV 2 AS INT)), ' '), tok) THEN 1 ELSE 0 END AS BIGINT) AS in_pred")
      Evaluate.multilabelMetrics(cells, 5)
    }
  )

  /** Per-order (o_orderkey, qty) — the s19-family feature base. */
  private def ordersQty(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(expr("CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)").as("qty"))

  /** The s14 features with y in whole dollars (Σe² headroom). */
  private def dollarFeats(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("x1"),
        sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("x2"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"),
          expr("CAST(round(o_totalprice) AS BIGINT)").as("y")),
        "o_orderkey")

  /** The s33 features: x1 = n items, x2 = qty decile, y = the s19-style
    * noisy qty-derived target (in natural units, not micro). */
  private def lassoFeats(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("x1"),
        expr("CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)").as("qty"))
      .selectExpr("o_orderkey", "x1", "CAST(qty DIV 10 AS BIGINT) AS x2",
        "CAST(qty + 5 * (o_orderkey % 13) AS BIGINT) AS y")

  /** One online-LDA responsibility stage: cells ⋈ γ ⋈ expElogbeta,
    * emitting (did, tok, c, pn, f1, f2) from the shared ratio/fraction
    * strings (`//` for DIV — non-negative operands). */
  private def oldaScoreCte(name: String, cellsTab: String, gTab: String,
                           ebTab: String): String = {
    import graft.ext.Clustering
    s"""$name AS (SELECT did, tok, c, pn,
       |    ${Clustering.oldaFracExpr("et1", "eb1", "pn", "//")} AS f1,
       |    ${Clustering.oldaFracExpr("et2", "eb2", "pn", "//")} AS f2
       |  FROM (SELECT did, tok, c, et1, et2, eb1, eb2,
       |      (et1 * eb1) + (et2 * eb2) AS pn
       |    FROM (SELECT b.did, b.tok, b.c,
       |        ${Clustering.oldaRatioExpr("g1", "(g1 + g2)", "//")} AS et1,
       |        ${Clustering.oldaRatioExpr("g2", "(g1 + g2)", "//")} AS et2,
       |        e.eb1, e.eb2
       |      FROM $cellsTab b JOIN $gTab USING (did) JOIN $ebTab e USING (tok))))""".stripMargin
  }

  /** [[oldaScoreCte]] at K topics — same ratio/fraction strings, loop
    * columns. */
  private def oldaScoreCteK(name: String, cellsTab: String, gTab: String,
                            ebTab: String, kTot: Int): String = {
    import graft.ext.Clustering
    val ks = 1 to kTot
    val gsum = ks.map(k => s"g$k").reduce((a, b) => s"($a + $b)")
    val pn = ks.map(k => s"(et$k * eb$k)").reduce((a, b) => s"$a + $b")
    s"""$name AS (SELECT did, tok, c, pn,
       |    ${ks.map(k => s"${Clustering.oldaFracExpr(s"et$k", s"eb$k", "pn", "//")} AS f$k").mkString(",\n    ")}
       |  FROM (SELECT did, tok, c, ${ks.map(k => s"et$k").mkString(", ")}, ${ks.map(k => s"eb$k").mkString(", ")},
       |      $pn AS pn
       |    FROM (SELECT b.did, b.tok, b.c,
       |        ${ks.map(k => s"${Clustering.oldaRatioExpr(s"g$k", gsum, "//")} AS et$k").mkString(",\n        ")},
       |        ${ks.map(k => s"e.eb$k").mkString(", ")}
       |      FROM $cellsTab b JOIN $gTab USING (did) JOIN $ebTab e USING (tok))))""".stripMargin
  }

  /** The s117 K-topic online chain: [[oldaChainCtes]] with per-topic
    * column loops over the same seed/ratio/blend strings. */
  private def oldaChainCtesK(kTot: Int): String = {
    import graft.ext.Clustering
    val ks = 1 to kTot
    val tokHash = "CAST('0x' || substr(md5('olda:' || tok), 1, 15) AS BIGINT)"
    val didHash = "CAST('0x' || substr(md5('oldab:' || CAST(did AS VARCHAR)), 1, 15) AS BIGINT)"
    val iters = (1 to 2).map { t =>
      s"""ls$t AS (SELECT ${ks.map(k => s"CAST(sum(l$k) AS BIGINT) AS ls$k").mkString(", ")}
         |  FROM lam${t - 1}),
         |eb$t AS MATERIALIZED (SELECT tok,
         |    ${ks.map(k => s"${Clustering.oldaRatioExpr(s"l$k", s"ls$k", "//")} AS eb$k").mkString(",\n    ")}
         |  FROM lam${t - 1} CROSS JOIN ls$t),
         |bc$t AS MATERIALIZED (SELECT * FROM counts WHERE $didHash % 4 = ${(t - 1) % 4}),
         |gz$t AS (SELECT did, ${Clustering.oldaGammaInitExprsK(kTot).mkString(",\n    ")}
         |  FROM (SELECT DISTINCT did FROM bc$t)),
         |${oldaScoreCteK(s"sa$t", s"bc$t", s"gz$t", s"eb$t", kTot)},
         |gu$t AS MATERIALIZED (SELECT did,
         |    ${ks.map(k => s"CAST(500000 + sum(c * f$k) AS BIGINT) AS g$k").mkString(",\n    ")}
         |  FROM sa$t GROUP BY 1),
         |${oldaScoreCteK(s"sb$t", s"bc$t", s"gu$t", s"eb$t", kTot)},
         |br$t AS MATERIALIZED (SELECT tok, ${ks.map(k => s"CAST(sum(c * f$k) AS BIGINT) AS br$k").mkString(", ")}
         |  FROM sb$t GROUP BY 1),
         |bs$t AS (SELECT CAST(count(DISTINCT did) AS BIGINT) AS ss FROM bc$t),
         |lam$t AS MATERIALIZED (SELECT tok,
         |    ${ks.map(k => s"${Clustering.oldaLambdaUpdExpr(s"l$k", s"br$k", Clustering.oldaRho(t))} AS l$k").mkString(",\n    ")}
         |  FROM (SELECT l.tok, ${ks.map(k => s"l.l$k").mkString(", ")}, ${ks.map(k => s"coalesce(b.br$k, 0) AS br$k").mkString(", ")}
         |    FROM lam${t - 1} l LEFT JOIN br$t b USING (tok))
         |  CROSS JOIN dtot CROSS JOIN bs$t)""".stripMargin
    }.mkString(",\n")
    s"""counts AS MATERIALIZED (
       |  SELECT did, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id AS did, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY 1, 2),
       |dtot AS (SELECT CAST(count(DISTINCT did) AS BIGINT) AS dd FROM counts),
       |lam0 AS MATERIALIZED (SELECT tok,
       |    ${ks.map(k => s"CAST(1000000 + (CASE WHEN ($tokHash % $kTot) = ${kTot - k} THEN 500000 ELSE 0 END) AS BIGINT) AS l$k").mkString(",\n    ")}
       |  FROM (SELECT DISTINCT tok FROM counts)),
       |$iters""".stripMargin
  }

  /** The s75 online-LDA fitting chain: corpus counts, parity λ seed,
    * two unrolled minibatch iterations ending at `lam2`. Shared by the
    * s75 and s82 oracles. */
  private def oldaChainCtes: String = {
    import graft.ext.Clustering
    val tokHash = "CAST('0x' || substr(md5('olda:' || tok), 1, 15) AS BIGINT)"
    val didHash = "CAST('0x' || substr(md5('oldab:' || CAST(did AS VARCHAR)), 1, 15) AS BIGINT)"
    val iters = (1 to 2).map { t =>
      s"""ls$t AS (SELECT CAST(sum(l1) AS BIGINT) AS ls1, CAST(sum(l2) AS BIGINT) AS ls2
         |  FROM lam${t - 1}),
         |eb$t AS MATERIALIZED (SELECT tok,
         |    ${Clustering.oldaRatioExpr("l1", "ls1", "//")} AS eb1,
         |    ${Clustering.oldaRatioExpr("l2", "ls2", "//")} AS eb2
         |  FROM lam${t - 1} CROSS JOIN ls$t),
         |bc$t AS MATERIALIZED (SELECT * FROM counts WHERE $didHash % 4 = ${(t - 1) % 4}),
         |gz$t AS (SELECT did, CAST(750000 + (did % 2) * 500000 AS BIGINT) AS g1,
         |    CAST(1750000 - (did % 2) * 500000 AS BIGINT) AS g2
         |  FROM (SELECT DISTINCT did FROM bc$t)),
         |${oldaScoreCte(s"sa$t", s"bc$t", s"gz$t", s"eb$t")},
         |gu$t AS MATERIALIZED (SELECT did,
         |    CAST(500000 + sum(c * f1) AS BIGINT) AS g1,
         |    CAST(500000 + sum(c * f2) AS BIGINT) AS g2
         |  FROM sa$t GROUP BY 1),
         |${oldaScoreCte(s"sb$t", s"bc$t", s"gu$t", s"eb$t")},
         |br$t AS MATERIALIZED (SELECT tok, CAST(sum(c * f1) AS BIGINT) AS br1,
         |    CAST(sum(c * f2) AS BIGINT) AS br2 FROM sb$t GROUP BY 1),
         |bs$t AS (SELECT CAST(count(DISTINCT did) AS BIGINT) AS ss FROM bc$t),
         |lam$t AS MATERIALIZED (SELECT tok,
         |    ${Clustering.oldaLambdaUpdExpr("l1", "br1", Clustering.oldaRho(t))} AS l1,
         |    ${Clustering.oldaLambdaUpdExpr("l2", "br2", Clustering.oldaRho(t))} AS l2
         |  FROM (SELECT l.tok, l.l1, l.l2, coalesce(b.br1, 0) AS br1,
         |      coalesce(b.br2, 0) AS br2
         |    FROM lam${t - 1} l LEFT JOIN br$t b USING (tok))
         |  CROSS JOIN dtot CROSS JOIN bs$t)""".stripMargin
    }.mkString(",\n")
    s"""counts AS MATERIALIZED (
       |  SELECT did, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id AS did, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY 1, 2),
       |dtot AS (SELECT CAST(count(DISTINCT did) AS BIGINT) AS dd FROM counts),
       |lam0 AS MATERIALIZED (SELECT tok,
       |    CAST(1000000 + ($tokHash % 2) * 500000 AS BIGINT) AS l1,
       |    CAST(1500000 - ($tokHash % 2) * 500000 AS BIGINT) AS l2
       |  FROM (SELECT DISTINCT tok FROM counts)),
       |$iters""".stripMargin
  }

  private val qtyCte =
    """base AS MATERIALIZED (
      |  SELECT l_orderkey AS o_orderkey,
      |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1)""".stripMargin

  /** One unrolled ISTA iteration: the linear gradient step (Learn's
    * shared prediction/update formula strings) then the integer
    * soft-threshold on the two feature weights. */
  private def lassoIterCte(k: Int, lr: Double, shrinkq: Long): String = {
    import graft.ext.Learn
    s"""lg$k AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(r) AS BIGINT) AS g0,
       |    CAST(sum(r * x1) AS BIGINT) AS g1,
       |    CAST(sum(r * x2) AS BIGINT) AS g2
       |  FROM (SELECT y - ${Learn.linPredExpr} AS r, x1, x2
       |        FROM feats CROSS JOIN lw${k - 1})),
       |lw$k AS MATERIALIZED (
       |  SELECT u0 AS w0q,
       |    ${Learn.softThresholdExpr("u1", shrinkq)} AS w1q,
       |    ${Learn.softThresholdExpr("u2", shrinkq)} AS w2q
       |  FROM (SELECT ${Learn.linUpdExpr("w0q", "g0", lr)} AS u0,
       |          ${Learn.linUpdExpr("w1q", "g1", lr)} AS u1,
       |          ${Learn.linUpdExpr("w2q", "g2", lr)} AS u2
       |        FROM lg$k CROSS JOIN lw${k - 1}))""".stripMargin
  }

  /** The s98 iteration CTE: [[lassoIterCte]] with the elastic proximal
    * step (shared elasticStepExpr strings) in place of the bare
    * soft-threshold. */
  private def elasticIterCte(k: Int, lr: Double, shrinkq: Long,
                             l2div: Double): String = {
    import graft.ext.Learn
    s"""lg$k AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(r) AS BIGINT) AS g0,
       |    CAST(sum(r * x1) AS BIGINT) AS g1,
       |    CAST(sum(r * x2) AS BIGINT) AS g2
       |  FROM (SELECT y - ${Learn.linPredExpr} AS r, x1, x2
       |        FROM feats CROSS JOIN lw${k - 1})),
       |lw$k AS MATERIALIZED (
       |  SELECT u0 AS w0q,
       |    ${Learn.elasticStepExpr("u1", shrinkq, l2div)} AS w1q,
       |    ${Learn.elasticStepExpr("u2", shrinkq, l2div)} AS w2q
       |  FROM (SELECT ${Learn.linUpdExpr("w0q", "g0", lr)} AS u0,
       |          ${Learn.linUpdExpr("w1q", "g1", lr)} AS u1,
       |          ${Learn.linUpdExpr("w2q", "g2", lr)} AS u2
       |        FROM lg$k CROSS JOIN lw${k - 1}))""".stripMargin
  }

  /** The s30 ranking chain through the per-query metric rows (`pkm`) —
    * shared by the s30 and s94 oracles. */
  private def rankingChainCte: String = {
    val disc = Evaluate.dcgDiscountExpr
    s"""li AS MATERIALIZED (
       |  SELECT o.o_custkey AS key, l.l_suppkey AS item, l.l_returnflag
       |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  WHERE o.o_custkey <= 300),
       |cnt AS (SELECT key, item, count(*) AS c FROM li GROUP BY 1, 2),
       |pred AS MATERIALIZED (SELECT key, item, CAST(rn AS BIGINT) AS rnk FROM (
       |    SELECT key, item,
       |      row_number() OVER (PARTITION BY key ORDER BY c DESC, item) AS rn
       |    FROM cnt) WHERE rn <= 5),
       |rel AS MATERIALIZED (
       |  SELECT DISTINCT key, item FROM li WHERE l_returnflag = 'R'),
       |relsets AS (SELECT key, CAST(count(*) AS BIGINT) AS n_rel FROM rel GROUP BY 1),
       |hits AS (SELECT p.key, p.rnk,
       |    CASE WHEN r.item IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM pred p LEFT JOIN rel r ON r.key = p.key AND r.item = p.item),
       |runs AS (SELECT key, rnk, hit,
       |    CAST(sum(hit) OVER (PARTITION BY key ORDER BY rnk ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hits_up_to
       |  FROM hits),
       |perkey AS MATERIALIZED (SELECT key, CAST(sum(hit) AS BIGINT) AS hits,
       |    CAST(sum(CASE WHEN hit = 1 THEN (hits_up_to * 1000000) // rnk ELSE 0 END) AS BIGINT) AS sum_prec,
       |    CAST(sum(CASE WHEN hit = 1 THEN $disc ELSE 0 END) AS BIGINT) AS dcg_micro
       |  FROM runs GROUP BY 1),
       |ideal AS (SELECT rnk,
       |    CAST(sum($disc) OVER (ORDER BY rnk ROWS UNBOUNDED PRECEDING) AS BIGINT) AS idcg_micro
       |  FROM (SELECT CAST(unnest(range(1, 6)) AS BIGINT) AS rnk)),
       |pkm AS MATERIALIZED (SELECT rs.key, rs.n_rel,
       |    CAST(COALESCE(pk.hits, 0) AS BIGINT) AS hits,
       |    CAST((COALESCE(pk.hits, 0) * 1000000) // 5 AS BIGINT) AS p_at_k_micro,
       |    CAST(COALESCE(pk.sum_prec, 0) // rs.n_rel AS BIGINT) AS ap_micro,
       |    CAST((COALESCE(pk.dcg_micro, 0) * 1000000) // i.idcg_micro AS BIGINT) AS ndcg_micro
       |  FROM relsets rs
       |  LEFT JOIN perkey pk USING (key)
       |  JOIN ideal i ON i.rnk = least(rs.n_rel, 5))""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // Mirror of Evaluate.binaryMetrics: score-grouped cumulative counts,
    // micro ratios by `//` (all operands non-negative), trapezoid AUC
    // with the lag-0 (0,0) endpoint.
    "s28_binary_metrics" ->
      s"""WITH $qtyCte,
         |sc AS (SELECT qty AS score,
         |    CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 130 THEN 1 ELSE 0 END AS BIGINT) AS label
         |  FROM base),
         |g AS MATERIALIZED (SELECT score AS thr, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(label) AS BIGINT) AS np FROM sc GROUP BY 1),
         |cum AS (SELECT thr,
         |    CAST(sum(np) OVER w AS BIGINT) AS tp,
         |    CAST(sum(n) OVER w - sum(np) OVER w AS BIGINT) AS fp,
         |    CAST(sum(np) OVER wa AS BIGINT) AS pos,
         |    CAST(sum(n) OVER wa - sum(np) OVER wa AS BIGINT) AS neg
         |  FROM g
         |  WINDOW w AS (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING),
         |         wa AS (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
         |lg AS (SELECT *, COALESCE(lag(tp) OVER (ORDER BY thr DESC), 0) AS tp0,
         |    COALESCE(lag(fp) OVER (ORDER BY thr DESC), 0) AS fp0 FROM cum),
         |curve AS MATERIALIZED (SELECT thr, tp, fp,
         |    CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS precision_micro,
         |    CAST((tp * 1000000) // pos AS BIGINT) AS recall_micro,
         |    CAST((fp * 1000000) // neg AS BIGINT) AS fpr_micro,
         |    (fp - fp0) * (tp + tp0) AS trap2, pos, neg FROM lg),
         |auc AS (SELECT CAST((CAST(sum(trap2) AS BIGINT) * 1000000)
         |      // (2 * max(pos) * max(neg)) AS BIGINT) AS auc_micro FROM curve)
         |SELECT thr, tp, fp, precision_micro, recall_micro, fpr_micro, auc_micro
         |FROM curve CROSS JOIN auc ORDER BY thr DESC""".stripMargin,

    // Mirror of prMetrics: the s28 cumulative chain minus the negatives,
    // the (0, 1) curve-start lag default, the exact-integer F1, and the
    // shared per-point trapezoid string summed exactly.
    "s92_pr_curve_auc" ->
      s"""WITH $qtyCte,
         |sc AS (SELECT qty AS score,
         |    CAST(CASE WHEN qty + 5 * (o_orderkey % 13) > 130 THEN 1 ELSE 0 END AS BIGINT) AS label
         |  FROM base),
         |g AS MATERIALIZED (SELECT score AS thr, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(label) AS BIGINT) AS np FROM sc GROUP BY 1),
         |cum AS (SELECT thr,
         |    CAST(sum(np) OVER w AS BIGINT) AS tp,
         |    CAST(sum(n) OVER w - sum(np) OVER w AS BIGINT) AS fp,
         |    CAST(sum(np) OVER wa AS BIGINT) AS pos
         |  FROM g
         |  WINDOW w AS (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING),
         |         wa AS (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
         |pc AS (SELECT *, ${Evaluate.prPrecisionExpr} AS pcur,
         |    COALESCE(lag(tp) OVER (ORDER BY thr DESC), 0) AS tp0 FROM cum),
         |lg AS (SELECT *,
         |    COALESCE(lag(pcur) OVER (ORDER BY thr DESC), CAST(1.0 AS DOUBLE)) AS pprev
         |  FROM pc),
         |curve AS MATERIALIZED (SELECT thr, tp, fp,
         |    CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS precision_micro,
         |    CAST((tp * 1000000) // pos AS BIGINT) AS recall_micro,
         |    CAST((tp * 2000000) // ((tp + fp) + pos) AS BIGINT) AS f1_micro,
         |    CAST((tp * 5000000) // ((tp + fp) + (4 * pos)) AS BIGINT) AS f2_micro,
         |    ${Evaluate.prTrapMicroExpr} AS term_micro
         |  FROM lg),
         |area AS (SELECT CAST(sum(term_micro) AS BIGINT) AS pr_auc_micro FROM curve)
         |SELECT thr, tp, fp, precision_micro, recall_micro, f1_micro, f2_micro, pr_auc_micro
         |FROM curve CROSS JOIN area ORDER BY thr DESC""".stripMargin,

    // Mirror of binaryMetrics(numBins = 20): the same distinct-score
    // table, rank DESC, grouping = count // 20, equal-count chunks
    // keyed (rnk - 1) // grouping with max-score representatives, then
    // the s28 cumulative sweep verbatim over the ~21 binned points.
    "s77_binned_pr_curve" ->
      """WITH sc AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS score,
        |    CAST(CASE WHEN CAST(round(o_totalprice) AS BIGINT) + 500 * (o_orderkey % 13) > 180000
        |         THEN 1 ELSE 0 END AS BIGINT) AS label
        |  FROM orders),
        |g AS MATERIALIZED (SELECT score AS thr, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(label) AS BIGINT) AS np FROM sc GROUP BY 1),
        |grp AS (SELECT CAST(count(*) // 20 AS BIGINT) AS grouping FROM g),
        |idx AS (SELECT thr, n, np,
        |    CAST(row_number() OVER (ORDER BY thr DESC) AS BIGINT) AS rnk FROM g),
        |b AS MATERIALIZED (
        |  SELECT CAST((rnk - 1) // grouping AS BIGINT) AS bin,
        |    CAST(max(thr) AS BIGINT) AS thr, CAST(sum(n) AS BIGINT) AS n,
        |    CAST(sum(np) AS BIGINT) AS np
        |  FROM idx CROSS JOIN grp WHERE grouping >= 2 GROUP BY 1
        |  UNION ALL
        |  SELECT rnk AS bin, thr, n, np
        |  FROM idx CROSS JOIN grp WHERE grouping < 2),
        |cum AS (SELECT thr,
        |    CAST(sum(np) OVER w AS BIGINT) AS tp,
        |    CAST(sum(n) OVER w - sum(np) OVER w AS BIGINT) AS fp,
        |    CAST(sum(np) OVER wa AS BIGINT) AS pos,
        |    CAST(sum(n) OVER wa - sum(np) OVER wa AS BIGINT) AS neg
        |  FROM b
        |  WINDOW w AS (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING),
        |         wa AS (ORDER BY thr DESC ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |lg AS (SELECT *, COALESCE(lag(tp) OVER (ORDER BY thr DESC), 0) AS tp0,
        |    COALESCE(lag(fp) OVER (ORDER BY thr DESC), 0) AS fp0 FROM cum),
        |curve AS MATERIALIZED (SELECT thr, tp, fp,
        |    CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS precision_micro,
        |    CAST((tp * 1000000) // pos AS BIGINT) AS recall_micro,
        |    CAST((fp * 1000000) // neg AS BIGINT) AS fpr_micro,
        |    (fp - fp0) * (tp + tp0) AS trap2, pos, neg FROM lg),
        |auc AS (SELECT CAST((CAST(sum(trap2) AS BIGINT) * 1000000)
        |      // (2 * max(pos) * max(neg)) AS BIGINT) AS auc_micro FROM curve)
        |SELECT thr, tp, fp, precision_micro, recall_micro, fpr_micro, auc_micro
        |FROM curve CROSS JOIN auc ORDER BY thr DESC""".stripMargin,

    // The s14 oracle chain in dollars, then Evaluate.regressionMetrics'
    // exact sums and shared sqrt/R² formula strings.
    "s29_regression_metrics" -> {
      val betaSelect = graft.ext.Learn.olsBetaExprs
        .map { case (name, e) => s"$e AS $name" }.mkString(",\n    ")
      s"""WITH feats AS MATERIALIZED (
         |  SELECT l.l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS x1,
         |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS x2
         |  FROM lineitem l GROUP BY 1),
         |fy AS MATERIALIZED (
         |  SELECT f.o_orderkey, f.x1, f.x2,
         |         CAST(round(o.o_totalprice) AS BIGINT) AS y
         |  FROM feats f JOIN orders o USING (o_orderkey)),
         |sums AS (SELECT
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         |    CAST(sum(x1 * x1) AS BIGINT) AS s11, CAST(sum(x1 * x2) AS BIGINT) AS s12,
         |    CAST(sum(x2 * x2) AS BIGINT) AS s22, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x1 * y) AS BIGINT) AS s1y, CAST(sum(x2 * y) AS BIGINT) AS s2y
         |  FROM fy),
         |betas AS (SELECT
         |    $betaSelect
         |  FROM sums),
         |preds AS (SELECT fy.y, ${graft.ext.Learn.olsPredExpr} AS p
         |  FROM fy CROSS JOIN betas),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(abs(y - p)) AS BIGINT) AS sae,
         |    CAST(sum((y - p) * (y - p)) AS BIGINT) AS sse,
         |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(y * y) AS BIGINT) AS syy,
         |    CAST(sum(p) AS BIGINT) AS sp, CAST(sum(p * p) AS BIGINT) AS spp
         |  FROM preds)
         |SELECT n, sae, sse,
         |  CAST((sae * 1000) // n AS BIGINT) AS mae_milli,
         |  CAST(((sse // n) * 1000) + (((sse % n) * 1000) // n) AS BIGINT) AS mse_milli,
         |  CAST(round(sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) * 1000.0) AS BIGINT) AS rmse_milli,
         |  CAST(round((1.0 - (CAST(sse AS DOUBLE) / (CAST(syy AS DOUBLE) - ((CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) / CAST(n AS DOUBLE))))) * 1000000.0) AS BIGINT) AS r2_micro,
         |  ${Evaluate.explainedVarMilliExpr} AS explained_var_milli
         |FROM m""".stripMargin
    },

    // Mirror of Evaluate.rankingMetrics over the purchase-count
    // recommender, sharing the DCG discount formula string.
    "s30_ranking_metrics" ->
      s"""WITH $rankingChainCte
         |SELECT * FROM pkm ORDER BY key""".stripMargin,

    // The means the reference API actually returns (RankingMetrics
    // .scala:60/:96/:130) over the s30 per-query rows — the s93
    // floor-before-mean convention.
    "s94_ranking_means" ->
      s"""WITH $rankingChainCte
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(CAST(sum(p_at_k_micro) AS BIGINT) // count(*) AS BIGINT) AS mean_p_at_k_micro,
         |  CAST(CAST(sum(ap_micro) AS BIGINT) // count(*) AS BIGINT) AS map_micro,
         |  CAST(CAST(sum(ndcg_micro) AS BIGINT) // count(*) AS BIGINT) AS mean_ndcg_micro
         |FROM pkm""".stripMargin,

    // Mirror of Learn.isotonicFit: distinct-x aggregation, prefix sums,
    // the d² block-average pair table, then the minimax sweep. All window
    // sums CAST from HUGEINT; division operands are positive counts.
    "s32_isotonic_regression" ->
      """WITH feats AS MATERIALIZED (
        |  SELECT l.l_orderkey AS o_orderkey,
        |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem l GROUP BY 1),
        |rows_ AS (SELECT CAST(f.qty // 10 AS BIGINT) AS x,
        |    CAST(round(o.o_totalprice) AS BIGINT) AS y
        |  FROM feats f JOIN orders o USING (o_orderkey)),
        |t AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS sy
        |  FROM rows_ GROUP BY 1),
        |cum AS MATERIALIZED (SELECT x, cnt, sy,
        |    CAST(sum(cnt) OVER w AS BIGINT) AS cc, CAST(sum(sy) OVER w AS BIGINT) AS cs
        |  FROM t WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)),
        |pairs AS MATERIALIZED (
        |  SELECT a.xj, b.xk,
        |    CAST(round((CAST(b.csk - a.cs0 AS DOUBLE) / CAST(b.cck - a.cc0 AS DOUBLE)) * 1000000.0) AS BIGINT) AS avg_micro
        |  FROM (SELECT x AS xj, cs - sy AS cs0, cc - cnt AS cc0 FROM cum) a
        |  JOIN (SELECT x AS xk, cs AS csk, cc AS cck FROM cum) b ON a.xj <= b.xk),
        |mn AS (SELECT i.x AS xi, i.cnt, i.sy, p.xj,
        |    CAST(min(p.avg_micro) AS BIGINT) AS mn
        |  FROM cum i JOIN pairs p ON p.xj <= i.x AND i.x <= p.xk
        |  GROUP BY 1, 2, 3, 4)
        |SELECT xi AS x, cnt AS n, sy, CAST(max(mn) AS BIGINT) AS level_micro
        |FROM mn GROUP BY 1, 2, 3 ORDER BY x""".stripMargin,

    // The s32 PAVA chain verbatim over the NEGATED inverted target,
    // with the final projection negating sums and levels back.
    "s79_antitonic_regression" ->
      """WITH feats AS MATERIALIZED (
        |  SELECT l.l_orderkey AS o_orderkey,
        |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem l GROUP BY 1),
        |rows_ AS (SELECT CAST(f.qty // 10 AS BIGINT) AS x,
        |    -(CAST(700000 - round(o.o_totalprice) AS BIGINT)) AS y
        |  FROM feats f JOIN orders o USING (o_orderkey)),
        |t AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS sy
        |  FROM rows_ GROUP BY 1),
        |cum AS MATERIALIZED (SELECT x, cnt, sy,
        |    CAST(sum(cnt) OVER w AS BIGINT) AS cc, CAST(sum(sy) OVER w AS BIGINT) AS cs
        |  FROM t WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)),
        |pairs AS MATERIALIZED (
        |  SELECT a.xj, b.xk,
        |    CAST(round((CAST(b.csk - a.cs0 AS DOUBLE) / CAST(b.cck - a.cc0 AS DOUBLE)) * 1000000.0) AS BIGINT) AS avg_micro
        |  FROM (SELECT x AS xj, cs - sy AS cs0, cc - cnt AS cc0 FROM cum) a
        |  JOIN (SELECT x AS xk, cs AS csk, cc AS cck FROM cum) b ON a.xj <= b.xk),
        |mn AS (SELECT i.x AS xi, i.cnt, i.sy, p.xj,
        |    CAST(min(p.avg_micro) AS BIGINT) AS mn
        |  FROM cum i JOIN pairs p ON p.xj <= i.x AND i.x <= p.xk
        |  GROUP BY 1, 2, 3, 4)
        |SELECT xi AS x, cnt AS n, CAST(-sy AS BIGINT) AS sy,
        |  CAST(-max(mn) AS BIGINT) AS level_micro
        |FROM mn GROUP BY 1, 2, 3 ORDER BY x""".stripMargin,

    // 8 unrolled ISTA iterations sharing Learn's prediction / update /
    // soft-threshold formula strings, then cohort scoring under lw8.
    "s33_lasso" -> {
      val shrinkq = graft.ext.Learn.lassoShrinkQ(0.002, 20.0)
      val iters = (1 to 8).map(lassoIterCte(_, 0.002, shrinkq)).mkString(",\n")
      s"""WITH feats AS MATERIALIZED (
         |  SELECT o_orderkey, x1, CAST(qty // 10 AS BIGINT) AS x2,
         |         CAST(qty + 5 * (o_orderkey % 13) AS BIGINT) AS y
         |  FROM (SELECT l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS x1,
         |          CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
         |        FROM lineitem GROUP BY 1)),
         |lw0 AS (SELECT 0::BIGINT AS w0q, 0::BIGINT AS w1q, 0::BIGINT AS w2q),
         |$iters
         |SELECT o_orderkey, y, ${graft.ext.Learn.linPredExpr} AS predq
         |FROM feats CROSS JOIN lw8 WHERE o_orderkey <= 4000
         |ORDER BY o_orderkey""".stripMargin
    },

    // The s33 oracle with the elastic proximal step at alpha = 0.5.
    "s98_elastic_net" -> {
      val shrinkq = graft.ext.Learn.lassoShrinkQ(0.002, 20.0 * 0.5)
      val l2div = graft.ext.Learn.elasticL2Div(0.002, 20.0, 0.5)
      val iters = (1 to 8).map(elasticIterCte(_, 0.002, shrinkq, l2div)).mkString(",\n")
      s"""WITH feats AS MATERIALIZED (
         |  SELECT o_orderkey, x1, CAST(qty // 10 AS BIGINT) AS x2,
         |         CAST(qty + 5 * (o_orderkey % 13) AS BIGINT) AS y
         |  FROM (SELECT l_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS x1,
         |          CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
         |        FROM lineitem GROUP BY 1)),
         |lw0 AS (SELECT 0::BIGINT AS w0q, 0::BIGINT AS w1q, 0::BIGINT AS w2q),
         |$iters
         |SELECT o_orderkey, y, ${graft.ext.Learn.linPredExpr} AS predq
         |FROM feats CROSS JOIN lw8 WHERE o_orderkey <= 4000
         |ORDER BY o_orderkey""".stripMargin
    },

    // Mirror of Clustering.onlineLdaTopicsK at K = 3: the s75 chain
    // with per-topic column loops (same seed/ratio/blend strings).
    "s117_online_lda_k3" ->
      s"""WITH ${oldaChainCtesK(3)}
         |SELECT topic, CAST(rn AS BIGINT) AS rnk, tok, lambda_micro FROM (
         |  SELECT topic, tok, lambda_micro,
         |    row_number() OVER (PARTITION BY topic ORDER BY lambda_micro DESC, tok) AS rn
         |  FROM (SELECT 1::BIGINT AS topic, tok, l1 AS lambda_micro FROM lam2
         |        UNION ALL SELECT 2::BIGINT, tok, l2 FROM lam2
         |        UNION ALL SELECT 3::BIGINT, tok, l3 FROM lam2))
         |WHERE rn <= 8 ORDER BY topic, rnk""".stripMargin,

    // Mirror of Clustering.plsaTopicsK at K = 3: the s38 chain with
    // K−1 stored mixture columns and the generated K-fold integer
    // responsibility (complement sum columns keep every total exact).
    "s115_plsa_k3" -> {
      import graft.ext.Clustering
      val K = 3
      val ks = 1 until K
      val rK = s"(1000000 - ${ks.map(k => s"r$k").reduce((a, b) => s"($a + $b)")})"
      val iters = (1 to 2).map { it =>
        s"""sc$it AS MATERIALIZED (
           |  SELECT did, c, tok, ${ks.map(k => s"r$k * c AS s${k}c").mkString(", ")}, $rK * c AS s${K}c FROM (
           |    SELECT cn.did, cn.tok, cn.c,
           |      ${ks.map(k => s"${Clustering.plsaRespExprK(K, k).replace(" DIV ", " // ")} AS r$k").mkString(",\n      ")}
           |    FROM counts cn JOIN th${it - 1} USING (did) JOIN ph${it - 1} USING (tok))),
           |th$it AS MATERIALIZED (
           |  SELECT did, ${ks.map(k => s"CAST(CAST(sum(s${k}c) AS BIGINT) // CAST(sum(c) AS BIGINT) AS BIGINT) AS th$k").mkString(", ")}
           |  FROM sc$it GROUP BY 1),
           |pa$it AS (SELECT tok, ${(1 to K).map(k => s"CAST(sum(s${k}c) AS BIGINT) AS w$k").mkString(", ")}
           |  FROM sc$it GROUP BY 1),
           |tt$it AS (SELECT ${(1 to K).map(k => s"CAST(sum(w$k) AS BIGINT) AS t$k").mkString(", ")} FROM pa$it),
           |ph$it AS MATERIALIZED (
           |  SELECT tok, ${(1 to K).map(k => s"CAST((w$k * 1000000) // t$k AS BIGINT) AS p$k").mkString(",\n         ")}
           |  FROM pa$it CROSS JOIN tt$it)""".stripMargin
      }.mkString(",\n")
      s"""WITH counts AS MATERIALIZED (
         |  SELECT did, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id AS did, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vn FROM counts),
         |th0 AS MATERIALIZED (
         |  SELECT did, ${ks.map(k => s"CAST(${Clustering.ldaSeedFracExpr(K, k)} AS BIGINT) AS th$k").mkString(", ")}
         |  FROM (SELECT DISTINCT did FROM counts)),
         |ph0 AS MATERIALIZED (
         |  SELECT tok, ${(1 to K).map(k => s"CAST(1000000 // vn AS BIGINT) AS p$k").mkString(", ")}
         |  FROM (SELECT DISTINCT tok FROM counts) CROSS JOIN v),
         |$iters
         |SELECT topic, CAST(rn AS BIGINT) AS rnk, tok, phi_micro FROM (
         |  SELECT topic, tok, phi_micro,
         |    row_number() OVER (PARTITION BY topic ORDER BY phi_micro DESC, tok) AS rn
         |  FROM (${(1 to K).map(k =>
               s"SELECT ${if (k == 1) s"$k::BIGINT AS topic, tok, p$k AS phi_micro"
               else s"$k::BIGINT, tok, p$k"} FROM ph2").mkString("\n        UNION ALL ")}))
         |WHERE rn <= 8 ORDER BY topic, rnk""".stripMargin
    },

    // Two unrolled PLSA-EM iterations sharing Clustering.plsaRespExpr
    // (DIV -> // on the all-non-negative integer operands), then the
    // per-topic emission ranking.
    "s38_plsa_topics" -> {
      val resp = graft.ext.Clustering.plsaRespExpr.replace(" DIV ", " // ")
      val iters = (1 to 2).map { k =>
        s"""sc$k AS MATERIALIZED (
           |  SELECT did, c, tok, r * c AS s1c, (1000000 - r) * c AS s2c FROM (
           |    SELECT cn.did, cn.tok, cn.c, $resp AS r
           |    FROM counts cn JOIN th${k - 1} USING (did) JOIN ph${k - 1} USING (tok))),
           |th$k AS MATERIALIZED (
           |  SELECT did, CAST(CAST(sum(s1c) AS BIGINT) // CAST(sum(c) AS BIGINT) AS BIGINT) AS th
           |  FROM sc$k GROUP BY 1),
           |pa$k AS (SELECT tok, CAST(sum(s1c) AS BIGINT) AS w1, CAST(sum(s2c) AS BIGINT) AS w2
           |  FROM sc$k GROUP BY 1),
           |tt$k AS (SELECT CAST(sum(w1) AS BIGINT) AS t1, CAST(sum(w2) AS BIGINT) AS t2 FROM pa$k),
           |ph$k AS MATERIALIZED (
           |  SELECT tok, CAST((w1 * 1000000) // t1 AS BIGINT) AS p1,
           |         CAST((w2 * 1000000) // t2 AS BIGINT) AS p2
           |  FROM pa$k CROSS JOIN tt$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH counts AS MATERIALIZED (
         |  SELECT did, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id AS did, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vn FROM counts),
         |th0 AS MATERIALIZED (
         |  SELECT did, CAST(250000 + (did % 2) * 500000 AS BIGINT) AS th
         |  FROM (SELECT DISTINCT did FROM counts)),
         |ph0 AS MATERIALIZED (
         |  SELECT tok, CAST(1000000 // vn AS BIGINT) AS p1, CAST(1000000 // vn AS BIGINT) AS p2
         |  FROM (SELECT DISTINCT tok FROM counts) CROSS JOIN v),
         |$iters
         |SELECT topic, CAST(rn AS BIGINT) AS rnk, tok, phi_micro FROM (
         |  SELECT topic, tok, phi_micro,
         |    row_number() OVER (PARTITION BY topic ORDER BY phi_micro DESC, tok) AS rn
         |  FROM (SELECT 1::BIGINT AS topic, tok, p1 AS phi_micro FROM ph2
         |        UNION ALL SELECT 2::BIGINT, tok, p2 FROM ph2))
         |WHERE rn <= 8 ORDER BY topic, rnk""".stripMargin
    },

    // Mirror of Learn.word2vecD at dims = 2: positional pairs, rank-hash
    // negative, the shared sigmoid / init / update formula strings (ascii and
    // substring behave identically in both engines on these tokens).
    // Mirror of Learn.word2vecD at dims = 3: the s48 chain with
    // generated component loops (same init/sigmoid/update strings).
    "s113_word2vec_dim" -> {
      import graft.ext.Learn
      val dims = 3
      val ds = 1 to dims
      val initCols = Learn.w2vInitExprsD(dims)
        .map { case (c, e) => s"$e AS $c" }.mkString(", ")
      def dot(a: Seq[String], b: Seq[String]) =
        a.zip(b).map { case (x, y) => s"($x * $y)" }.reduce((p, q) => s"$p + $q")
      val us = ds.map(i => s"u${i}q")
      s"""WITH toks AS MATERIALIZED (
         |  SELECT did, i AS pos, toks[i] AS tok FROM (
         |    SELECT doc_id AS did, string_split(text, ' ') AS toks FROM documents),
         |    unnest(range(1, len(toks) + 1)) t(i)
         |  WHERE len(toks[i]) > 0),
         |vocab AS MATERIALIZED (SELECT tok, r FROM (
         |  SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok) - 1 AS BIGINT) AS r
         |  FROM (SELECT tok, count(*) AS c FROM toks GROUP BY 1)) WHERE r < 30),
         |wt AS MATERIALIZED (
         |  SELECT t.did, row_number() OVER (PARTITION BY t.did ORDER BY t.pos) AS pos,
         |    t.tok, v.r FROM toks t JOIN vocab v USING (tok)),
         |init AS MATERIALIZED (SELECT tok, r, $initCols FROM (
         |  SELECT tok, r, ${Learn.w2vHashExpr} AS h FROM vocab)),
         |pairs AS MATERIALIZED (
         |  SELECT a.tok AS cw, b.tok AS ct,
         |    (a.r + (b.r * 7) + 3) % (SELECT count(*) FROM vocab) AS rn
         |  FROM wt a JOIN wt b ON a.did = b.did
         |    AND b.pos >= a.pos - 2 AND b.pos <= a.pos + 2 AND b.pos <> a.pos),
         |scored AS MATERIALIZED (
         |  SELECT cw, ct, rn, ${(us ++ ds.map(i => s"p${i}q") ++ ds.map(i => s"n${i}q")).mkString(", ")},
         |    ${Learn.w2vSigmoidExpr(dot(us, ds.map(i => s"p${i}q")))} AS sp,
         |    ${Learn.w2vSigmoidExpr(dot(us, ds.map(i => s"n${i}q")))} AS sn
         |  FROM pairs
         |  JOIN (SELECT tok AS cw, ${us.mkString(", ")} FROM init) USING (cw)
         |  JOIN (SELECT tok AS ct, ${ds.map(i => s"v${i}q AS p${i}q").mkString(", ")} FROM init) USING (ct)
         |  JOIN (SELECT r AS rn, ${ds.map(i => s"v${i}q AS n${i}q").mkString(", ")} FROM init) USING (rn)),
         |du AS (SELECT cw AS tok,
         |    ${ds.map(i => s"CAST(sum(((1000000 - sp) * p${i}q) - (sn * n${i}q)) AS BIGINT) AS g$i").mkString(",\n    ")}
         |  FROM scored GROUP BY 1),
         |dvp AS (SELECT ct AS tok,
         |    ${ds.map(i => s"CAST(sum((1000000 - sp) * u${i}q) AS BIGINT) AS gp$i").mkString(",\n    ")}
         |  FROM scored GROUP BY 1),
         |dvn AS (SELECT i.tok,
         |    ${ds.map(i => s"CAST(sum(-(s.sn * s.u${i}q)) AS BIGINT) AS gn$i").mkString(",\n    ")}
         |  FROM scored s JOIN init i ON i.r = s.rn GROUP BY 1),
         |vin AS (SELECT i.tok, i.r,
         |    ${ds.map(i => s"${Learn.w2vUpdExpr(s"u${i}q", s"COALESCE(g$i, 0)", 0.025)} AS u${i}q").mkString(",\n    ")}
         |  FROM init i LEFT JOIN du USING (tok)),
         |vout AS (SELECT i.tok,
         |    ${ds.map(i => s"${Learn.w2vUpdExpr(s"v${i}q", s"(COALESCE(gp$i, 0) + COALESCE(gn$i, 0))", 0.025)} AS v${i}q").mkString(",\n    ")}
         |  FROM init i LEFT JOIN dvp USING (tok) LEFT JOIN dvn USING (tok))
         |SELECT vin.tok, CAST(vin.r + 1 AS BIGINT) AS rnk, ${(us ++ ds.map(i => s"v${i}q")).mkString(", ")}
         |FROM vin JOIN vout USING (tok) WHERE vin.r < 20 ORDER BY rnk""".stripMargin
    },

    "s48_word2vec" -> {
      import graft.ext.Learn
      val initCols = Learn.w2vInitExprsD(2)
        .map { case (c, e) => s"$e AS $c" }.mkString(", ")
      s"""WITH toks AS MATERIALIZED (
         |  SELECT did, i AS pos, toks[i] AS tok FROM (
         |    SELECT doc_id AS did, string_split(text, ' ') AS toks FROM documents),
         |    unnest(range(1, len(toks) + 1)) t(i)
         |  WHERE len(toks[i]) > 0),
         |vocab AS MATERIALIZED (SELECT tok, r FROM (
         |  SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok) - 1 AS BIGINT) AS r
         |  FROM (SELECT tok, count(*) AS c FROM toks GROUP BY 1)) WHERE r < 30),
         |wt AS MATERIALIZED (
         |  SELECT t.did, row_number() OVER (PARTITION BY t.did ORDER BY t.pos) AS pos,
         |    t.tok, v.r FROM toks t JOIN vocab v USING (tok)),
         |init AS MATERIALIZED (SELECT tok, r, $initCols FROM (
         |  SELECT tok, r, ${Learn.w2vHashExpr} AS h FROM vocab)),
         |pairs AS MATERIALIZED (
         |  SELECT a.tok AS cw, b.tok AS ct,
         |    (a.r + (b.r * 7) + 3) % (SELECT count(*) FROM vocab) AS rn
         |  FROM wt a JOIN wt b ON a.did = b.did
         |    AND b.pos >= a.pos - 2 AND b.pos <= a.pos + 2 AND b.pos <> a.pos),
         |scored AS MATERIALIZED (
         |  SELECT cw, ct, rn, u1q, u2q, p1q, p2q, n1q, n2q,
         |    ${Learn.w2vSigmoidExpr("(u1q * p1q) + (u2q * p2q)")} AS sp,
         |    ${Learn.w2vSigmoidExpr("(u1q * n1q) + (u2q * n2q)")} AS sn
         |  FROM pairs
         |  JOIN (SELECT tok AS cw, u1q, u2q FROM init) USING (cw)
         |  JOIN (SELECT tok AS ct, v1q AS p1q, v2q AS p2q FROM init) USING (ct)
         |  JOIN (SELECT r AS rn, v1q AS n1q, v2q AS n2q FROM init) USING (rn)),
         |du AS (SELECT cw AS tok,
         |    CAST(sum(((1000000 - sp) * p1q) - (sn * n1q)) AS BIGINT) AS g1,
         |    CAST(sum(((1000000 - sp) * p2q) - (sn * n2q)) AS BIGINT) AS g2
         |  FROM scored GROUP BY 1),
         |dvp AS (SELECT ct AS tok,
         |    CAST(sum((1000000 - sp) * u1q) AS BIGINT) AS gp1,
         |    CAST(sum((1000000 - sp) * u2q) AS BIGINT) AS gp2
         |  FROM scored GROUP BY 1),
         |dvn AS (SELECT i.tok,
         |    CAST(sum(-(s.sn * s.u1q)) AS BIGINT) AS gn1,
         |    CAST(sum(-(s.sn * s.u2q)) AS BIGINT) AS gn2
         |  FROM scored s JOIN init i ON i.r = s.rn GROUP BY 1),
         |vin AS (SELECT i.tok, i.r,
         |    ${Learn.w2vUpdExpr("u1q", "COALESCE(g1, 0)", 0.025)} AS u1q,
         |    ${Learn.w2vUpdExpr("u2q", "COALESCE(g2, 0)", 0.025)} AS u2q
         |  FROM init i LEFT JOIN du USING (tok)),
         |vout AS (SELECT i.tok,
         |    ${Learn.w2vUpdExpr("v1q", "(COALESCE(gp1, 0) + COALESCE(gn1, 0))", 0.025)} AS v1q,
         |    ${Learn.w2vUpdExpr("v2q", "(COALESCE(gp2, 0) + COALESCE(gn2, 0))", 0.025)} AS v2q
         |  FROM init i LEFT JOIN dvp USING (tok) LEFT JOIN dvn USING (tok))
         |SELECT vin.tok, CAST(vin.r + 1 AS BIGINT) AS rnk, u1q, u2q, v1q, v2q
         |FROM vin JOIN vout USING (tok) WHERE vin.r < 20 ORDER BY rnk""".stripMargin
    },

    // Mirror of Clustering.ldaTopicsK at K = 3: the s46 chain with K−1
    // stored topic-count columns per state and the generated K-fold
    // responsibility ratio (same shared text; topic 3 by complement).
    "s111_lda_k3" -> {
      import graft.ext.Clustering
      val K = 3
      val ks = 1 until K
      val iters = (1 to 2).map { it =>
        s"""sc$it AS MATERIALIZED (
           |  SELECT did, tok, ${ks.map(k => s"c * r$k AS s${k}c").mkString(", ")} FROM (
           |    SELECT cn.did, cn.tok, cn.c,
           |      ${ks.map(k => s"${Clustering.ldaRespExprK(K, k)} AS r$k").mkString(",\n      ")}
           |    FROM counts cn JOIN d${it - 1} USING (did) JOIN t${it - 1} USING (tok)
           |    CROSS JOIN g${it - 1} CROSS JOIN tot)),
           |d$it AS MATERIALIZED (
           |  SELECT s.did, dt.nj, ${ks.map(k => s"CAST(sum(s${k}c) AS BIGINT) AS nj$k").mkString(", ")}
           |  FROM sc$it s JOIN dt USING (did) GROUP BY 1, 2),
           |t$it AS MATERIALIZED (
           |  SELECT s.tok, tt.nw, ${ks.map(k => s"CAST(sum(s${k}c) AS BIGINT) AS nw$k").mkString(", ")}
           |  FROM sc$it s JOIN tt USING (tok) GROUP BY 1, 2),
           |g$it AS (SELECT ${ks.map(k => s"CAST(sum(nw$k) AS BIGINT) AS n$k").mkString(", ")} FROM t$it)""".stripMargin
      }.mkString(",\n")
      val uni = 1000000 / K
      val parts = (b: String) => ks.map(k => s"$b$k").reduce((a, b2) => s"($a + $b2)")
      s"""WITH counts AS MATERIALIZED (
         |  SELECT did, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id AS did, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |dt AS MATERIALIZED (SELECT did, CAST(sum(c) AS BIGINT) AS nj FROM counts GROUP BY 1),
         |tt AS MATERIALIZED (SELECT tok, CAST(sum(c) AS BIGINT) AS nw FROM counts GROUP BY 1),
         |tot AS (SELECT CAST(sum(nw) AS BIGINT) AS ntot, CAST(count(*) AS BIGINT) AS vn FROM tt),
         |d0 AS MATERIALIZED (SELECT did, nj,
         |  ${ks.map(k => s"CAST(nj * ${Clustering.ldaSeedFracExpr(K, k)} AS BIGINT) AS nj$k").mkString(",\n  ")}
         |  FROM dt),
         |t0 AS MATERIALIZED (SELECT tok, nw,
         |  ${ks.map(k => s"CAST(nw * $uni AS BIGINT) AS nw$k").mkString(", ")} FROM tt),
         |g0 AS (SELECT ${ks.map(k => s"CAST(ntot * $uni AS BIGINT) AS n$k").mkString(", ")} FROM tot),
         |$iters,
         |ph AS (SELECT tok,
         |    ${ks.map(k => s"CAST((nw$k * 1000000) // n$k AS BIGINT) AS p$k").mkString(",\n    ")},
         |    CAST((((nw * 1000000) - ${parts("nw")}) * 1000000) // ((ntot * 1000000) - ${parts("n")}) AS BIGINT) AS p$K
         |  FROM t2 CROSS JOIN g2 CROSS JOIN tot)
         |SELECT topic, CAST(rn AS BIGINT) AS rnk, tok, phi_micro FROM (
         |  SELECT topic, tok, phi_micro,
         |    row_number() OVER (PARTITION BY topic ORDER BY phi_micro DESC, tok) AS rn
         |  FROM (${(1 to K).map(k =>
                 s"SELECT ${if (k == 1) s"$k::BIGINT AS topic, tok, p$k AS phi_micro"
                 else s"$k::BIGINT, tok, p$k"} FROM ph").mkString("\n        UNION ALL ")}))
         |WHERE rn <= 8 ORDER BY topic, rnk""".stripMargin
    },

    // Two unrolled smoothed-EM iterations sharing Clustering.ldaRespExpr
    // verbatim (pure double arithmetic + round — no DIV seam), the final
    // φ normalization on // over operands positive by construction.
    "s46_lda_topics" -> {
      val resp = graft.ext.Clustering.ldaRespExpr
      val iters = (1 to 2).map { k =>
        s"""sc$k AS MATERIALIZED (
           |  SELECT did, tok, c * r AS s1c FROM (
           |    SELECT cn.did, cn.tok, cn.c, $resp AS r
           |    FROM counts cn JOIN d${k - 1} USING (did) JOIN t${k - 1} USING (tok)
           |    CROSS JOIN g${k - 1} CROSS JOIN tot)),
           |d$k AS MATERIALIZED (
           |  SELECT s.did, dt.nj, CAST(sum(s1c) AS BIGINT) AS nj1
           |  FROM sc$k s JOIN dt USING (did) GROUP BY 1, 2),
           |t$k AS MATERIALIZED (
           |  SELECT s.tok, tt.nw, CAST(sum(s1c) AS BIGINT) AS nw1
           |  FROM sc$k s JOIN tt USING (tok) GROUP BY 1, 2),
           |g$k AS (SELECT CAST(sum(nw1) AS BIGINT) AS n1 FROM t$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH counts AS MATERIALIZED (
         |  SELECT did, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id AS did, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |dt AS MATERIALIZED (SELECT did, CAST(sum(c) AS BIGINT) AS nj FROM counts GROUP BY 1),
         |tt AS MATERIALIZED (SELECT tok, CAST(sum(c) AS BIGINT) AS nw FROM counts GROUP BY 1),
         |tot AS (SELECT CAST(sum(nw) AS BIGINT) AS ntot, CAST(count(*) AS BIGINT) AS vn FROM tt),
         |d0 AS MATERIALIZED (SELECT did, nj,
         |  CAST(nj * (250000 + ((did % 2) * 500000)) AS BIGINT) AS nj1 FROM dt),
         |t0 AS MATERIALIZED (SELECT tok, nw, CAST(nw * 500000 AS BIGINT) AS nw1 FROM tt),
         |g0 AS (SELECT CAST(ntot * 500000 AS BIGINT) AS n1 FROM tot),
         |$iters,
         |ph AS (SELECT tok,
         |    CAST((nw1 * 1000000) // n1 AS BIGINT) AS p1,
         |    CAST((((nw * 1000000) - nw1) * 1000000) // ((ntot * 1000000) - n1) AS BIGINT) AS p2
         |  FROM t2 CROSS JOIN g2 CROSS JOIN tot)
         |SELECT topic, CAST(rn AS BIGINT) AS rnk, tok, phi_micro FROM (
         |  SELECT topic, tok, phi_micro,
         |    row_number() OVER (PARTITION BY topic ORDER BY phi_micro DESC, tok) AS rn
         |  FROM (SELECT 1::BIGINT AS topic, tok, p1 AS phi_micro FROM ph
         |        UNION ALL SELECT 2::BIGINT, tok, p2 FROM ph))
         |WHERE rn <= 8 ORDER BY topic, rnk""".stripMargin
    },

    // Two unrolled online iterations sharing Clustering's ratio /
    // fraction / λ-blend formula strings (`//` for DIV — non-negative
    // operands throughout): hash minibatch, one γ update, sufficient
    // stats under the updated γ, the ρ_t power() blend over every
    // vocabulary row.
    "s75_online_lda" ->
      s"""WITH $oldaChainCtes
         |SELECT topic, CAST(rn AS BIGINT) AS rnk, tok, lambda_micro FROM (
         |  SELECT topic, tok, lambda_micro,
         |    row_number() OVER (PARTITION BY topic ORDER BY lambda_micro DESC, tok) AS rn
         |  FROM (SELECT 1::BIGINT AS topic, tok, l1 AS lambda_micro FROM lam2
         |        UNION ALL SELECT 2::BIGINT, tok, l2 FROM lam2))
         |WHERE rn <= 8 ORDER BY topic, rnk""".stripMargin,

    // The s75 chain, then the reference's logPerplexity evaluation:
    // full-corpus per-doc variational inference against the final λ
    // (γ init + one update, the fit's inner slice), the bound's token
    // term with one milli-rounded ln per cell, exp of the negative
    // mean at the end — every stage the shared formula strings.
    "s82_lda_perplexity" -> {
      import graft.ext.Clustering
      s"""WITH $oldaChainCtes,
         |lsF AS (SELECT CAST(sum(l1) AS BIGINT) AS ls1, CAST(sum(l2) AS BIGINT) AS ls2
         |  FROM lam2),
         |ebF AS MATERIALIZED (SELECT tok,
         |    ${Clustering.oldaRatioExpr("l1", "ls1", "//")} AS eb1,
         |    ${Clustering.oldaRatioExpr("l2", "ls2", "//")} AS eb2
         |  FROM lam2 CROSS JOIN lsF),
         |gzF AS (SELECT did, CAST(750000 + (did % 2) * 500000 AS BIGINT) AS g1,
         |    CAST(1750000 - (did % 2) * 500000 AS BIGINT) AS g2
         |  FROM (SELECT DISTINCT did FROM counts)),
         |${oldaScoreCte("saF", "counts", "gzF", "ebF")},
         |guF AS MATERIALIZED (SELECT did,
         |    CAST(500000 + sum(c * f1) AS BIGINT) AS g1,
         |    CAST(500000 + sum(c * f2) AS BIGINT) AS g2
         |  FROM saF GROUP BY 1),
         |${oldaScoreCte("sbF", "counts", "guF", "ebF")},
         |lncells AS (SELECT c, ${Clustering.oldaLnCellExpr} AS lnq FROM sbF),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
         |    CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(sum(c * lnq) AS BIGINT) AS ll_milli
         |  FROM lncells)
         |SELECT n_cells, n_tokens, ll_milli,
         |  ${Clustering.oldaPerpExpr} AS perplexity_micro
         |FROM agg""".stripMargin
    },

    // Three unrolled EM iterations sharing Clustering's responsibility /
    // update / init formula strings, then the two component rows + hard
    // counts under the final state.
    "s35_gaussian_mixture" -> {
      import graft.ext.Clustering
      // Spark DIV -> DuckDB // : identical on the non-negative count /
      // responsibility-sum operands (the SKILL.md seam note).
      val init = Clustering.gmmInitExprs
        .map { case (c, e) => s"${e.replace(" DIV ", " // ")} AS $c" }.mkString(",\n  ")
      val upd = Clustering.gmmUpdateExprs
        .map { case (c, e) => s"${e.replace(" DIV ", " // ")} AS $c" }.mkString(",\n    ")
      val stats = "nl, sl, ssl, nh, sh, ssh"
      val iters = (1 to 3).map { k =>
        s"""ga$k AS MATERIALIZED (
           |  SELECT CAST(sum(r) AS BIGINT) AS sr, CAST(sum(r * x) AS BIGINT) AS srx
           |  FROM (SELECT ${Clustering.gmmRespExpr} AS r, x FROM xs CROSS JOIN g${k - 1})),
           |g$k AS MATERIALIZED (
           |  SELECT $stats, $upd
           |  FROM ga$k CROSS JOIN g${k - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH xs AS MATERIALIZED (
         |  SELECT CAST(CAST(round(o_totalprice) AS BIGINT) // 1000 AS BIGINT) AS x
         |  FROM orders),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx FROM xs),
         |g0 AS MATERIALIZED (SELECT $stats,
         |  $init
         |  FROM (SELECT CAST(sum(lo) AS BIGINT) AS nl, CAST(sum(x * lo) AS BIGINT) AS sl,
         |          CAST(sum(x * x * lo) AS BIGINT) AS ssl,
         |          CAST(sum(1 - lo) AS BIGINT) AS nh, CAST(sum(x * (1 - lo)) AS BIGINT) AS sh,
         |          CAST(sum(x * x * (1 - lo)) AS BIGINT) AS ssh
         |        FROM (SELECT x, CASE WHEN ${Clustering.gmmSplitExpr} THEN 1 ELSE 0 END AS lo
         |              FROM xs CROSS JOIN tot))),
         |$iters,
         |hard AS (SELECT CAST(CASE WHEN ${Clustering.gmmRespExpr} >= 500000 THEN 1 ELSE 2 END AS BIGINT) AS comp
         |  FROM xs CROSS JOIN g3),
         |hc AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_hard FROM hard GROUP BY 1),
         |comps AS (SELECT 1::BIGINT AS comp, w1u AS weight_micro, m1m AS mean_milli FROM g3
         |  UNION ALL SELECT 2::BIGINT, CAST(1000000 - w1u AS BIGINT), m2m FROM g3)
         |SELECT c.comp, c.weight_micro, c.mean_milli, COALESCE(h.n_hard, 0) AS n_hard
         |FROM comps c LEFT JOIN hc h USING (comp) ORDER BY comp""".stripMargin
    },

    // Mirror of Clustering.gmmFit1dK3: unrolled heteroscedastic 3-way
    // EM sharing the softmax / update / init formula strings (DIV -> //
    // on the non-negative operands; HUGEINT second moments).
    // Mirror of GmmKd.gmmFitKd(3, 2): same generator-assembled oracle,
    // 3-D kernel (cofactor det/Mahalanobis), HUGEINT second moments.
    "s116_gmm_3d" -> graft.ext.GmmKd.oracleSql(3, 2, 3,
      """xs AS MATERIALIZED (
        |  SELECT CAST(round(l_quantity * 1000.0) AS BIGINT) AS x,
        |         CAST(round(l_extendedprice) AS BIGINT) AS y,
        |         CAST(round(l_discount * 100000.0) AS BIGINT) AS z
        |  FROM lineitem)""".stripMargin),

    // Mirror of GmmKd.gmmFitKd(2, 3): the generalized generator's own
    // oracle assembly — shared init/update/responsibility Seqs, three
    // unrolled iterations, HUGEINT second moments.
    "s110_gmm_kd" -> graft.ext.GmmKd.oracleSql(2, 3, 3,
      """xs AS MATERIALIZED (
        |  SELECT CAST(round(l_quantity * 1000.0) AS BIGINT) AS x,
        |         CAST(round(l_extendedprice) AS BIGINT) AS y
        |  FROM lineitem)""".stripMargin),

    "s101_gmm_k3" -> {
      import graft.ext.Clustering
      val cc = Clustering.gmm3ConstCols.mkString(", ")
      val init = Clustering.gmm3InitExprs
        .map { case (c, e) => s"${e.replace(" DIV ", " // ")} AS $c" }.mkString(",\n  ")
      val upd = Clustering.gmm3UpdateExprs
        .map { case (c, e) => s"${e.replace(" DIV ", " // ")} AS $c" }.mkString(",\n    ")
      val iters = (1 to 3).map { k =>
        s"""ga$k AS MATERIALIZED (
           |  SELECT CAST(sum(r1) AS BIGINT) AS sr1,
           |    sum(CAST(r1 * x AS HUGEINT)) AS srx1,
           |    sum(CAST(r1 * x AS HUGEINT) * x) AS srxx1,
           |    CAST(sum(r2) AS BIGINT) AS sr2,
           |    sum(CAST(r2 * x AS HUGEINT)) AS srx2,
           |    sum(CAST(r2 * x AS HUGEINT) * x) AS srxx2
           |  FROM (SELECT ${Clustering.gmm3RespExpr(1)} AS r1,
           |          ${Clustering.gmm3RespExpr(2)} AS r2, x
           |        FROM xs CROSS JOIN g${k - 1})),
           |g$k AS MATERIALIZED (SELECT $cc, $upd FROM ga$k CROSS JOIN g${k - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH xs AS MATERIALIZED (
         |  SELECT CAST(CAST(round(o_totalprice) AS BIGINT) // 1000 AS BIGINT) AS x
         |  FROM orders),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         |  sum(CAST(x * x AS HUGEINT)) AS sxx FROM xs),
         |hv AS (SELECT n, sx, sxx,
         |    CAST(sum(lo) AS BIGINT) AS nlo, CAST(sum(x * lo) AS BIGINT) AS slo,
         |    CAST(sum(1 - lo) AS BIGINT) AS nhi, CAST(sum(x * (1 - lo)) AS BIGINT) AS shi
         |  FROM (SELECT n, sx, sxx, x,
         |          CASE WHEN ${Clustering.gmmSplitExpr} THEN 1 ELSE 0 END AS lo
         |        FROM xs CROSS JOIN tot)
         |  GROUP BY n, sx, sxx),
         |g0 AS MATERIALIZED (SELECT $cc,
         |  $init
         |  FROM (
         |  SELECT n, sx, sxx,
         |    CAST(sum(CASE WHEN reg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nl,
         |    CAST(sum(CASE WHEN reg = 1 THEN x ELSE 0 END) AS BIGINT) AS sl,
         |    sum(CAST(CASE WHEN reg = 1 THEN x * x ELSE 0 END AS HUGEINT)) AS ssl,
         |    CAST(sum(CASE WHEN reg = 2 THEN 1 ELSE 0 END) AS BIGINT) AS nm,
         |    CAST(sum(CASE WHEN reg = 2 THEN x ELSE 0 END) AS BIGINT) AS sm,
         |    sum(CAST(CASE WHEN reg = 2 THEN x * x ELSE 0 END AS HUGEINT)) AS ssm,
         |    CAST(sum(CASE WHEN reg = 3 THEN 1 ELSE 0 END) AS BIGINT) AS nh2,
         |    CAST(sum(CASE WHEN reg = 3 THEN x ELSE 0 END) AS BIGINT) AS sh2,
         |    sum(CAST(CASE WHEN reg = 3 THEN x * x ELSE 0 END AS HUGEINT)) AS ssh2
         |  FROM (SELECT n, sx, sxx, x,
         |          CASE WHEN (x * nlo) < slo THEN 1
         |               WHEN (x * nhi) < shi THEN 2 ELSE 3 END AS reg
         |        FROM xs CROSS JOIN hv)
         |  GROUP BY n, sx, sxx)),
         |$iters,
         |hard AS (SELECT CAST(CASE WHEN r1 >= r2 AND r1 >= 1000000 - (r1 + r2) THEN 1
         |    WHEN r2 >= 1000000 - (r1 + r2) THEN 2 ELSE 3 END AS BIGINT) AS comp
         |  FROM (SELECT ${Clustering.gmm3RespExpr(1)} AS r1,
         |          ${Clustering.gmm3RespExpr(2)} AS r2
         |        FROM xs CROSS JOIN g3)),
         |hc AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_hard FROM hard GROUP BY 1),
         |comps AS (SELECT 1::BIGINT AS comp, w1u AS weight_micro,
         |    m1m AS mean_milli, v1m AS var_milli FROM g3
         |  UNION ALL SELECT 2::BIGINT, w2u, m2m, v2m FROM g3
         |  UNION ALL SELECT 3::BIGINT, CAST(1000000 - (w1u + w2u) AS BIGINT),
         |    m3m, v3m FROM g3)
         |SELECT c.comp, c.weight_micro, c.mean_milli, c.var_milli,
         |  COALESCE(h.n_hard, 0) AS n_hard
         |FROM comps c LEFT JOIN hc h USING (comp) ORDER BY comp""".stripMargin
    },

    // Mirror of Clustering.gmmFit2d: three unrolled 2-D EM iterations
    // sharing the responsibility / update / init formula strings.
    // Second-moment sums are HUGEINT here where Spark carries
    // DECIMAL(38,0) — same exact integers, and the shared formulas only
    // ever CAST them to DOUBLE.
    "s96_gmm_2d" -> {
      import graft.ext.Clustering
      val cc = Clustering.gmm2ConstCols.mkString(", ")
      val init = Clustering.gmm2InitExprs
        .map { case (c, e) => s"${e.replace(" DIV ", " // ")} AS $c" }.mkString(",\n  ")
      val upd = Clustering.gmm2UpdateExprs
        .map { case (c, e) => s"${e.replace(" DIV ", " // ")} AS $c" }.mkString(",\n    ")
      val iters = (1 to 3).map { k =>
        s"""ga$k AS MATERIALIZED (
           |  SELECT CAST(sum(r) AS BIGINT) AS sr,
           |    sum(CAST(r * x AS HUGEINT)) AS srx, sum(CAST(r * y AS HUGEINT)) AS sry,
           |    sum(CAST(r * x AS HUGEINT) * x) AS srxx,
           |    sum(CAST(r * x AS HUGEINT) * y) AS srxy,
           |    sum(CAST(r * y AS HUGEINT) * y) AS sryy
           |  FROM (SELECT ${Clustering.gmm2RespExpr} AS r, x, y FROM xs CROSS JOIN g${k - 1})),
           |g$k AS MATERIALIZED (SELECT $cc, $upd FROM ga$k CROSS JOIN g${k - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH xs AS MATERIALIZED (
         |  SELECT CAST(round(l_quantity * 1000.0) AS BIGINT) AS x,
         |         CAST(round(l_extendedprice) AS BIGINT) AS y
         |  FROM lineitem),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |  sum(CAST(x * x AS HUGEINT)) AS sxx, sum(CAST(x * y AS HUGEINT)) AS sxy,
         |  sum(CAST(y * y AS HUGEINT)) AS syy FROM xs),
         |g0 AS MATERIALIZED (SELECT $cc,
         |  $init
         |  FROM (
         |  SELECT n, sx, sy, sxx, sxy, syy,
         |    CAST(sum(lo) AS BIGINT) AS nl, CAST(sum(x * lo) AS BIGINT) AS slx,
         |    CAST(sum(y * lo) AS BIGINT) AS sly,
         |    sum(CAST(x * x * lo AS HUGEINT)) AS slxx,
         |    sum(CAST(x * y * lo AS HUGEINT)) AS slxy,
         |    sum(CAST(y * y * lo AS HUGEINT)) AS slyy,
         |    CAST(sum(1 - lo) AS BIGINT) AS nh, CAST(sum(x * (1 - lo)) AS BIGINT) AS shx,
         |    CAST(sum(y * (1 - lo)) AS BIGINT) AS shy,
         |    sum(CAST(x * x * (1 - lo) AS HUGEINT)) AS shxx,
         |    sum(CAST(x * y * (1 - lo) AS HUGEINT)) AS shxy,
         |    sum(CAST(y * y * (1 - lo) AS HUGEINT)) AS shyy
         |  FROM (SELECT x, y, n, sx, sy, sxx, sxy, syy,
         |          CASE WHEN ${Clustering.gmmSplitExpr} THEN 1 ELSE 0 END AS lo
         |        FROM xs CROSS JOIN tot)
         |  GROUP BY n, sx, sy, sxx, sxy, syy)),
         |$iters,
         |hard AS (SELECT CAST(CASE WHEN ${Clustering.gmm2RespExpr} >= 500000 THEN 1 ELSE 2 END AS BIGINT) AS comp
         |  FROM xs CROSS JOIN g3),
         |hc AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_hard FROM hard GROUP BY 1),
         |comps AS (SELECT 1::BIGINT AS comp, w1u AS weight_micro,
         |    m1x AS mean_x_milli, m1y AS mean_y_milli,
         |    c111 AS var_x_micro, c112 AS cov_xy_micro, c122 AS var_y_micro FROM g3
         |  UNION ALL SELECT 2::BIGINT, CAST(1000000 - w1u AS BIGINT),
         |    m2x, m2y, c211, c212, c222 FROM g3)
         |SELECT c.comp, c.weight_micro, c.mean_x_milli, c.mean_y_milli,
         |  c.var_x_micro, c.cov_xy_micro, c.var_y_micro,
         |  COALESCE(h.n_hard, 0) AS n_hard
         |FROM comps c LEFT JOIN hc h USING (comp) ORDER BY comp""".stripMargin
    },

    // Mirror of Learn.chiSqSelect: distinct presence, margin aggregates,
    // the dense token × label grid, the shared cell formula string.
    "s34_chisq_selector" ->
      s"""WITH pres AS MATERIALIZED (SELECT DISTINCT id, lab, tok FROM (
         |    SELECT doc_id AS id, lang AS lab,
         |           unnest(string_split(text, ' ')) AS tok FROM documents)),
         |ctl AS MATERIALIZED (
         |  SELECT tok, lab, CAST(count(*) AS BIGINT) AS o FROM pres GROUP BY 1, 2),
         |nl AS (SELECT lang AS lab, CAST(count(*) AS BIGINT) AS nl FROM documents GROUP BY 1),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
         |pt AS (SELECT tok, CAST(sum(o) AS BIGINT) AS pt FROM ctl GROUP BY 1),
         |grid AS (SELECT p.tok, l.lab, p.pt, l.nl, t.nn, COALESCE(c.o, 0) AS o
         |  FROM pt p CROSS JOIN nl l CROSS JOIN nt t
         |  LEFT JOIN ctl c ON c.tok = p.tok AND c.lab = l.lab),
         |chi AS MATERIALIZED (
         |  SELECT tok, CAST(sum(${graft.ext.Learn.chiPairExpr}) AS BIGINT) AS chi2_micro
         |  FROM grid GROUP BY 1)
         |SELECT tok, chi2_micro FROM (
         |  SELECT tok, chi2_micro,
         |    row_number() OVER (ORDER BY chi2_micro DESC, tok) AS rn FROM chi)
         |WHERE rn <= 10 ORDER BY tok""".stripMargin,

    // Mirror of Evaluate.multilabelMetrics over the top-5-token labels.
    "s31_multilabel_metrics" ->
      """WITH vocab AS MATERIALIZED (SELECT tok FROM (
        |    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
        |    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |    GROUP BY tok) WHERE rn <= 5),
        |cells AS (SELECT d.doc_id AS key, v.tok,
        |    CAST(CASE WHEN list_contains(string_split(d.text, ' '), v.tok) THEN 1 ELSE 0 END AS BIGINT) AS in_actual,
        |    CAST(CASE WHEN list_contains(string_split(substr(d.text, 1, CAST(d.n_chars // 2 AS INT)), ' '), v.tok) THEN 1 ELSE 0 END AS BIGINT) AS in_pred
        |  FROM documents d CROSS JOIN vocab v),
        |perrow AS MATERIALIZED (SELECT key,
        |    CAST(sum(in_actual * in_pred) AS BIGINT) AS i,
        |    CAST(sum(greatest(in_actual, in_pred)) AS BIGINT) AS u,
        |    CAST(sum(abs(in_actual - in_pred)) AS BIGINT) AS sym,
        |    CAST(sum(in_actual) AS BIGINT) AS na, CAST(sum(in_pred) AS BIGINT) AS np
        |  FROM cells GROUP BY 1),
        |pr2 AS (SELECT *,
        |    CASE WHEN sym = 0 THEN 1 ELSE 0 END AS ex,
        |    CASE WHEN u = 0 THEN 1000000 ELSE CAST((i * 1000000) // u AS BIGINT) END AS iou_micro
        |  FROM perrow)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST((CAST(sum(ex) AS BIGINT) * 1000000) // count(*) AS BIGINT) AS subset_acc_micro,
        |  CAST((CAST(sum(sym) AS BIGINT) * 1000000) // (count(*) * 5) AS BIGINT) AS hamming_micro,
        |  CAST(CAST(sum(iou_micro) AS BIGINT) // count(*) AS BIGINT) AS accuracy_micro,
        |  CAST((CAST(sum(i) AS BIGINT) * 1000000) // CAST(sum(np) AS BIGINT) AS BIGINT) AS micro_precision_micro,
        |  CAST((CAST(sum(i) AS BIGINT) * 1000000) // CAST(sum(na) AS BIGINT) AS BIGINT) AS micro_recall_micro,
        |  CAST((2 * CAST(sum(i) AS BIGINT) * 1000000) // (CAST(sum(np) AS BIGINT) + CAST(sum(na) AS BIGINT)) AS BIGINT) AS micro_f1_micro
        |FROM pr2""".stripMargin
  )
}
