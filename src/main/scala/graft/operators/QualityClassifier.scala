package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained quality classifier — the GPT-3-style learned gate beside the
  * heuristic scorers ([[TextAnalysis]] quality metrics) and the CCNet LM
  * filter ([[LanguageModel]]): a linear classifier scores every document
  * by how much its token distribution resembles a curated positive corpus
  * versus the rest (Brown et al. 2020, arXiv:2005.14165 appendix A trains
  * exactly this shape — a bag-of-features linear model over a
  * WebText-vs-CommonCrawl split — then gates on the score).
  *
  * The model here is multinomial Naive Bayes with add-one smoothing over
  * HASHED unigram features (the hashing trick, Weinberger et al. 2009 —
  * the same md5-52-bit token hash as [[TextAnalysis.hashedFeatures]], so
  * both engines compute bit-identical feature ids). NB is the
  * closed-form member of the linear-classifier family: training is ONE
  * map-side-combinable aggregation (per-feature class counts), so the
  * whole fit is a single shuffle of at most `dim` rows per partial — no
  * gradient iterations, no vocabulary state, bit-reproducible.
  *
  * Scale shape (100 TB): train = one groupBy("feat") over tokens with
  * partial aggregation (dim-bounded partials), plus two one-row totals;
  * the fitted model is `dim` rows — broadcast it; score = per-document
  * feature counts (map-side combinable) joined to the broadcast model,
  * one aggregation per doc. Nothing grows with corpus size except the
  * token scan itself.
  *
  * The log-likelihood ratio per feature:
  *   llr(f) = ln((cPos(f)+1)/(nPos+dim)) − ln((cNeg(f)+1)/(nNeg+dim))
  * and a document's score = Σ_f c_doc(f)·llr(f) + ln(dPos/dNeg).
  * All `dim` buckets materialize in the model (zero-count buckets carry
  * the Laplace floor), so scoring a corpus disjoint from the training
  * corpus needs no special case — the same degradation discipline as
  * [[LanguageModel.scoreOn]]. */
object QualityClassifier {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** 52-bit md5 token hash — the shared [[EngineHash]] definition
    * (identical to [[TextAnalysis.hashedFeatures]] and its DuckDB
    * mirror). */
  private def h52(c: Column): Column = EngineHash.h52(c)

  /** (carry…, feat) rows: whitespace tokens hashed into [0, dim). Split
    * keeps empty tokens (`-1` limit) exactly like the hashed-features
    * oracle: an empty text contributes one "" token. */
  private def featRows(d: DataFrame, dim: Int,
                       carry: Seq[String] = Seq("doc_id", "label")): DataFrame =
    // input spread (r14 opt): the md5-per-token explode otherwise runs on
    // the source's single split/partition; safe here — the train counts
    // are longs (exact) and the scoring double-sum sits BEHIND its own
    // (doc, feat) shuffle either way, so its merge structure is unchanged
    Partitioning.spread(d)
      .select(carry.map(col) :+
        explode(split(coalesce(col("text"), lit("")), " ", -1)).as("tok"): _*)
      .select(carry.map(col) :+ (h52(col("tok")) % dim).cast("int").as("feat"): _*)

  /** Fit on `labeled` (doc_id, label: boolean, text). Returns the model as
    * TWO relations: (feat, llr) with all `dim` buckets present, and a
    * one-row totals relation (n_pos_tok, n_neg_tok, d_pos, d_neg,
    * log_prior) — model-as-relations like [[LanguageModel.trainOn]]. */
  def train(spark: SparkSession, labeled: DataFrame, dim: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    // ONE token scan: the dim-bounded per-feature class counts. Token
    // totals derive from these ≤dim rows on the driver (re-aggregating
    // them from the exploded tokens would pay the corpus scan twice),
    // and the fitted model becomes a literal dim-row relation — the same
    // driver-side-model discipline as the IVF/IMI centroid training.
    // the token-level class counts and the doc-count priors are two
    // INDEPENDENT aggregates over `labeled` — overlap them (guide §2.6,
    // r15 opt; exact long counts, unchanged by merge order)
    val trained = Jobs.concurrently(Seq(
      () => featRows(labeled, dim).groupBy("feat").agg(
        sum(when(col("label"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(!col("label"), 1L).otherwise(0L)).as("c_neg")).collect(),
      // doc-count priors: a cheap document-level scan (no token explode)
      () => labeled.agg(
        sum(when(col("label"), 1L).otherwise(0L)).as("d_pos"),
        sum(when(!col("label"), 1L).otherwise(0L)).as("d_neg")).collect()))
    val countRows = trained(0)
    val byFeat = countRows.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nPos = countRows.map(_.getLong(1)).sum
    val nNeg = countRows.map(_.getLong(2)).sum
    val d = trained(1)(0)
    val dPos = if (d.isNullAt(0)) 0L else d.getLong(0)
    val dNeg = if (d.isNullAt(1)) 0L else d.getLong(1)
    // loud on a single-class corpus: log(0)/x/0 would otherwise score the
    // whole corpus silently NULL or Infinity (the load() loudness rule)
    require(dPos > 0 && dNeg > 0,
      s"QualityClassifier.train: both classes must be present (d_pos=$dPos, d_neg=$dNeg)" +
        " — check the positive-label predicate")
    // every bucket materializes: zero-count features carry the Laplace
    // floor, so out-of-corpus tokens at score time degrade gracefully
    val model = (0 until dim).map { f =>
      val (cp, cn) = byFeat.getOrElse(f, (0L, 0L))
      (f, math.log((cp + 1).toDouble / (nPos + dim)) -
        math.log((cn + 1).toDouble / (nNeg + dim)))
    }.toDF("feat", "llr")
    val totals = Seq((dPos, dNeg, nPos, nNeg,
      math.log(dPos.toDouble / dNeg.toDouble)))
      .toDF("d_pos", "d_neg", "n_pos_tok", "n_neg_tok", "log_prior")
    (model, totals)
  }

  /** Score `toScore` (doc_id, label, text) against a fitted model:
    * per-doc hashed-feature counts × broadcast llr, plus the prior odds.
    * `round(·, 6)` pins the cross-engine double (ln in both engines; the
    * LanguageModel precedent). */
  def score(toScore: DataFrame, model: DataFrame, totals: DataFrame,
            dim: Int): DataFrame =
    scoreCarrying(toScore, model, totals, dim, Seq("doc_id", "label"))

  /** [[score]] for unlabeled documents (doc_id, text) — the deployment /
    * streaming-gate shape. */
  def scoreDocs(toScore: DataFrame, model: DataFrame, totals: DataFrame,
                dim: Int): DataFrame =
    scoreCarrying(toScore, model, totals, dim, Seq("doc_id"))

  private def scoreCarrying(toScore: DataFrame, model: DataFrame,
                            totals: DataFrame, dim: Int,
                            carry: Seq[String]): DataFrame = {
    val docFeat = featRows(toScore, dim, carry)
      .groupBy(carry :+ "feat" map col: _*).agg(count(lit(1)).as("c"))
    docFeat
      .join(broadcast(model), "feat")
      .groupBy(carry.map(col): _*)
      .agg(sum(col("c").cast("double") * col("llr")).as("s"))
      .crossJoin(broadcast(totals.select("log_prior")))
      .select(carry.map(col) :+
        round(col("s") + col("log_prior"), 6).as("score"): _*)
      .withColumn("predicted", col("score") > 0)
  }

  /** [[ModelStore]] name of the model persisted under `tag`. */
  def storeName(tag: String): String = s"${tag}_qcmodel"

  /** The model's part in a [[ModelStore]] generation. */
  private val Part = "qc"
  private val PartSchema = new org.apache.spark.sql.types.StructType()
    .add("kind", "string").add("feat", "int").add("value", "double")

  /** Write a fitted model as `g`'s [[Part]]: llr rows, the prior and the
    * feature dimension are DATA rows of ONE part (kind ∈ {llr, prior,
    * dim}), so the model can never exist without its prior or its
    * dimension (the [[ImiIndex]] seed-row lesson). */
  private[operators] def stage(g: ModelStore.Generation, model: DataFrame,
                               totals: DataFrame, dim: Int): Unit = {
    val spark = model.sparkSession
    import spark.implicits._
    ModelStore.write(g, Part,
      model.select(lit("llr").as("kind"), col("feat"), col("llr").as("value"))
        .unionAll(totals.select(lit("prior").as("kind"), lit(-1).as("feat"),
          col("log_prior").as("value")))
        .unionAll(Seq(("dim", -1, dim.toDouble)).toDF("kind", "feat", "value")))
  }

  /** Read `g`'s model: (model, totals-shaped prior, dim). Loud on torn
    * state — a missing prior/dim row or an llr row count that disagrees
    * with the stored dim means the part was not written by [[stage]] and
    * scoring it would be silently wrong. The model is dim-bounded (≤ 256
    * llr rows + prior + dim): ONE collect, validated on the driver, and
    * returned as LOCAL relations (the [[IvfIndex.loadModel]] discipline).
    * Values are the exact stored doubles. */
  private[operators] def read(spark: SparkSession,
                              g: ModelStore.Generation): (DataFrame, DataFrame, Int) = {
    import spark.implicits._
    val where = g.partPath(Part)
    val rows = g.read(spark, Part, PartSchema).collect()
    val dims = rows.filter(_.getString(0) == "dim")
    require(dims.length == 1, s"$where: expected exactly one dim row, found ${dims.length}")
    val dim = dims(0).getDouble(2).toInt
    val priors = rows.filter(_.getString(0) == "prior")
    require(priors.length == 1, s"$where: expected exactly one prior row")
    val llr = rows.filter(_.getString(0) == "llr")
    require(llr.length == dim,
      s"$where: ${llr.length} llr rows for dim $dim — torn model")
    (llr.map(r => (r.getInt(1), r.getDouble(2))).toSeq.toDF("feat", "llr"),
      Seq(priors(0).getDouble(2)).toDF("log_prior"),
      dim)
  }

  /** Persist a fitted model as a new [[ModelStore]] generation. */
  def persist(spark: SparkSession, tag: String, model: DataFrame,
              totals: DataFrame, dim: Int): Unit =
    ModelStore.publish(spark, storeName(tag))(stage(_, model, totals, dim))

  /** Load the newest persisted model: (model, totals-shaped prior, dim),
    * cached per generation, so a long-running server validates each
    * model generation once, not once per batch. */
  def load(spark: SparkSession, tag: String): (DataFrame, DataFrame, Int) =
    ModelStore.load(spark, storeName(tag), Part)(read(spark, _))

  /** Curated-positive label for the oracle query: three of the twenty
    * synthetic sources play "reference corpus" (the wiki-vs-crawl split
    * of the GPT-3 recipe, stated on the data we have). */
  val PositiveSources: Seq[String] = Seq("src0", "src1", "src2")
  val DefaultDim: Int = 256

  /** Oracled end-to-end: fit on the corpus with source-derived labels,
    * score the same corpus (in-sample by construction; train/score frames
    * are separate arguments for deployment). */
  def query(spark: SparkSession, dir: String, dim: Int = DefaultDim): DataFrame = {
    val labeled = docs(spark, dir).select(col("doc_id"),
      col("source").isin(PositiveSources: _*).as("label"), col("text"))
    val (model, totals) = train(spark, labeled, dim)
    score(labeled, model, totals, dim).orderBy("doc_id")
  }

  /** Deterministic 2-fold split on the md5-52 hash of the doc id — the
    * SAME hash both engines already share for features, so the hold-out
    * oracle stays total. Fold 0 trains, fold 1 is the disjoint held-out
    * remainder. */
  def holdoutFold(c: Column): Column = h52(c.cast("string")) % 2

  /** OUT-OF-SAMPLE evidence path (the r10 verdict's in-sample caveat,
    * `query`'s scaladoc): fit on the fold-0 documents only, score ONLY
    * the disjoint fold-1 remainder. A gate is graded on held-out
    * behavior; this is the oracled form of that measurement
    * (q_quality_holdout), and [[metrics]] turns its output into the
    * precision/recall row SCALING publishes. */
  def holdoutQuery(spark: SparkSession, dir: String, dim: Int = DefaultDim): DataFrame = {
    val labeled = docs(spark, dir).select(col("doc_id"),
      col("source").isin(PositiveSources: _*).as("label"), col("text"))
    val fold = holdoutFold(col("doc_id"))
    val (model, totals) = train(spark, labeled.filter(fold === 0), dim)
    score(labeled.filter(fold === 1), model, totals, dim).orderBy("doc_id")
  }

  /** Gate-quality metrics of a scored (label, predicted) frame — one row:
    * counts + precision/recall/accuracy at the score>0 threshold. */
  def metrics(scored: DataFrame): DataFrame = {
    val agg = scored.agg(
      count(lit(1)).as("n"),
      sum(when(col("label") && col("predicted"), 1L).otherwise(0L)).as("tp"),
      sum(when(!col("label") && col("predicted"), 1L).otherwise(0L)).as("fp"),
      sum(when(col("label") && !col("predicted"), 1L).otherwise(0L)).as("fn"),
      sum(when(!col("label") && !col("predicted"), 1L).otherwise(0L)).as("tn"))
    // a gate that predicts NO positives has UNDEFINED precision — NULL,
    // not 0 (and not an ANSI divide-by-zero): the distinction carries the
    // honest "majority-class collapse" verdict the unseparable case needs
    def safe(num: Column, den: Column): Column =
      when(den === 0, lit(null)).otherwise(round(num / den, 4))
    agg.select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
      safe(col("tp"), col("tp") + col("fp")).as("precision"),
      safe(col("tp"), col("tp") + col("fn")).as("recall"),
      safe(col("tp") + col("tn"), col("n")).as("accuracy"))
  }

  /** DuckDB mirror of [[holdoutQuery]]: the [[querySql]] chain with the
    * fold column — training CTEs (feature counts, token totals, priors)
    * read fold 0 ONLY, scoring CTEs read fold 1 ONLY. */
  def holdoutQuerySql(dim: Int = DefaultDim): String = {
    val pos = PositiveSources.map(s => s"'$s'").mkString(", ")
    s"""
WITH d AS (
  SELECT doc_id, (source IN ($pos)) AS label, coalesce(text, '') AS text,
    CAST(list_sum(list_transform(generate_series(1, 13),
      i -> (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), i, 1)) - 1)
           * (1::BIGINT << (4 * (13 - i))))) AS BIGINT) % 2 AS fold
  FROM documents
), toks AS (
  SELECT doc_id, label, fold, unnest(string_split(text, ' ')) AS tok FROM d
), hashed AS (
  SELECT doc_id, label, fold,
    CAST(CAST(list_sum(list_transform(generate_series(1, 13),
      i -> (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)
           * (1::BIGINT << (4 * (13 - i))))) AS BIGINT) % $dim AS INTEGER) AS feat
  FROM toks
), tok_tot AS (
  SELECT sum(CASE WHEN label THEN 1 ELSE 0 END) AS n_pos_tok,
         sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS n_neg_tok
  FROM hashed WHERE fold = 0
), doc_tot AS (
  SELECT sum(CASE WHEN label THEN 1 ELSE 0 END) AS d_pos,
         sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS d_neg
  FROM d WHERE fold = 0
), counts AS (
  SELECT feat, sum(CASE WHEN label THEN 1 ELSE 0 END) AS c_pos,
               sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS c_neg
  FROM hashed WHERE fold = 0 GROUP BY feat
), model AS (
  SELECT f.feat,
    ln((coalesce(c.c_pos, 0) + 1)::DOUBLE / (t.n_pos_tok + $dim))
      - ln((coalesce(c.c_neg, 0) + 1)::DOUBLE / (t.n_neg_tok + $dim)) AS llr
  FROM (SELECT unnest(generate_series(0, $dim - 1)) AS feat) f
  LEFT JOIN counts c USING (feat), tok_tot t
), doc_feat AS (
  SELECT doc_id, label, feat, count(*) AS c FROM hashed WHERE fold = 1 GROUP BY 1, 2, 3
), scored AS (
  SELECT doc_id, label,
    round(sum(c::DOUBLE * llr) + ln(d_pos::DOUBLE / d_neg), 6) AS score
  FROM doc_feat JOIN model USING (feat), doc_tot
  GROUP BY doc_id, label, d_pos, d_neg
)
SELECT doc_id, label, score, score > 0 AS predicted
FROM scored ORDER BY doc_id
""".trim
  }

  /** DuckDB mirror: same tokenization, same 52-bit md5 hash (the
    * hashed-features CTE), same add-one NB algebra. */
  def querySql(dim: Int = DefaultDim): String = {
    val pos = PositiveSources.map(s => s"'$s'").mkString(", ")
    s"""
WITH d AS (
  SELECT doc_id, (source IN ($pos)) AS label, coalesce(text, '') AS text
  FROM documents
), toks AS (
  SELECT doc_id, label, unnest(string_split(text, ' ')) AS tok FROM d
), hashed AS (
  SELECT doc_id, label,
    CAST(CAST(list_sum(list_transform(generate_series(1, 13),
      i -> (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)
           * (1::BIGINT << (4 * (13 - i))))) AS BIGINT) % $dim AS INTEGER) AS feat
  FROM toks
), tok_tot AS (
  SELECT sum(CASE WHEN label THEN 1 ELSE 0 END) AS n_pos_tok,
         sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS n_neg_tok
  FROM hashed
), doc_tot AS (
  SELECT sum(CASE WHEN label THEN 1 ELSE 0 END) AS d_pos,
         sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS d_neg
  FROM d
), counts AS (
  SELECT feat, sum(CASE WHEN label THEN 1 ELSE 0 END) AS c_pos,
               sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS c_neg
  FROM hashed GROUP BY feat
), model AS (
  SELECT f.feat,
    ln((coalesce(c.c_pos, 0) + 1)::DOUBLE / (t.n_pos_tok + $dim))
      - ln((coalesce(c.c_neg, 0) + 1)::DOUBLE / (t.n_neg_tok + $dim)) AS llr
  FROM (SELECT unnest(generate_series(0, $dim - 1)) AS feat) f
  LEFT JOIN counts c USING (feat), tok_tot t
), doc_feat AS (
  SELECT doc_id, label, feat, count(*) AS c FROM hashed GROUP BY 1, 2, 3
), scored AS (
  SELECT doc_id, label,
    round(sum(c::DOUBLE * llr) + ln(d_pos::DOUBLE / d_neg), 6) AS score
  FROM doc_feat JOIN model USING (feat), doc_tot
  GROUP BY doc_id, label, d_pos, d_neg
)
SELECT doc_id, label, score, score > 0 AS predicted
FROM scored ORDER BY doc_id
""".trim
  }
}
