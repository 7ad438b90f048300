package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-level n-gram language-model quality scoring — the CCNet-style
  * perplexity filter (Wenzek et al. 2020, arXiv:1911.00359: *CCNet:
  * Extracting High Quality Monolingual Datasets from Web Crawl Data*).
  * CCNet scores every crawled document by its perplexity under a small
  * LM trained on a trusted corpus and keeps the low-perplexity head —
  * the standard statistical-quality gate a 100 TB training-data pipeline
  * runs alongside the heuristic scorers ([[TextAnalysis]] quality/langid)
  * and the dedup family. CCNet uses KenLM; the distributed re-expression
  * here trains the model AS RELATIONS, so both training and scoring are
  * plain corpus-sized aggregates and equi-joins:
  *
  *  - **Train** ([[trainOn]]): bigram counts `C(w1,w2)`, left-context
  *    counts `C1(w1) = Σ_w2 C(w1,w2)`, and vocabulary size `V` over the
  *    whitespace tokens of a training corpus. All three are group-bys
  *    with full map-side combine — a hot token ("de" in Portuguese text)
  *    combines to one partial per map task, so no skew cap is needed.
  *    Bigrams are extracted shuffle-free per document with
  *    `slice`+`arrays_zip` (no position self-join).
  *  - **Score** ([[scoreOn]]): add-one-smoothed conditional probability
  *    `P(w2|w1) = (C(w1,w2)+1) / (C1(w1)+V)`, per-document mean log-prob
  *    over its bigrams, perplexity `exp(-mean)`. Unseen bigrams/contexts
  *    (a scoring corpus disjoint from the training corpus) degrade to
  *    the smoothing floor `1/(C1+V)` resp. `1/V` via left joins — no
  *    special-case branch, the Laplace estimator covers them.
  *
  * Scale shape: the model relations are vocabulary-sized (≪ corpus);
  * the scoring joins are equi-joins of the corpus-sized bigram stream
  * against those model relations — broadcastable when the vocabulary
  * fits (AQE decides from measured sizes; no hint is forced here
  * because a 100 TB web corpus's bigram vocabulary can exceed the
  * broadcast budget, and a shuffle join with map-side-combined model
  * partials is the correct fallback). Nothing in train or score is
  * pairwise, and no driver-side collect touches corpus-sized data.
  *
  * Reference scope note: the reference engine (single-node invoice RPA)
  * has no LM scoring; this operator is part of the §2.6+ training-data
  * extension surface, oracled like the rest (`q_lm_perplexity` against a
  * DuckDB replica of the same relational formulation).
  */
object LanguageModel {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Whitespace tokens of `text`, lower-cased, empties dropped — the
    * repo-wide `split(text, ' ')` tokenization ([[TextAnalysis]]),
    * lower-cased so the LM does not split counts on capitalization. */
  private def toksCol(text: Column): Column =
    filter(split(lower(coalesce(text, lit(""))), " ", -1), t => length(t) > 0)

  /** `(doc_id, w1, w2)` — one row per adjacent token pair, extracted
    * in-stage from the token array (zip of the array with its own
    * 1-shifted self; no shuffle, no position join). */
  private def bigrams(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"), toksCol(col("text")).as("toks"))
    val n1 = greatest(size(col("toks")) - 1, lit(0))
    toks
      .select(col("doc_id"),
        slice(col("toks"), lit(1), n1).as("a1"),
        slice(col("toks"), lit(2), n1).as("a2"))
      .select(col("doc_id"), explode(arrays_zip(col("a1"), col("a2"))).as("p"))
      .select(col("doc_id"), col("p.a1").as("w1"), col("p.a2").as("w2"))
  }

  /** Train the bigram model: returns (bigram counts `(w1, w2, c12)`,
    * context counts `(w1, c1)`, vocabulary-size relation `(vs)` — one
    * row). `C1` counts w1 as a bigram LEFT CONTEXT (doc-final tokens
    * are not contexts), so Σ_w2 P(w2|w1) = 1 exactly. */
  def trainOn(documents: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val bi = bigrams(documents)
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = documents
      .select(explode(toksCol(col("text"))).as("w"))
      .agg(count_distinct(col("w")).as("vs"))
    (c12, c1, v)
  }

  /** Score `documents` under a model trained on `trainDocs`: per document
    * the bigram count and the add-one-smoothed bigram perplexity
    * (rounded to 3 decimals — the repo's cross-engine float discipline;
    * NULL for documents with fewer than two tokens). */
  def scoreOn(documents: DataFrame, trainDocs: DataFrame): DataFrame = {
    val (c12, c1, v) = trainOn(trainDocs)
    scoreWith(documents, c12, c1, v)
  }

  /** [[scoreOn]]'s scoring half against an already-trained model — the
    * deployment shape ([[load]]-ed counts score a batch without touching
    * the training corpus; [[Sampling.curationServed]]'s LM leg). */
  def scoreWith(documents: DataFrame, c12: DataFrame, c1: DataFrame,
                v: DataFrame): DataFrame = {
    val scored = bigrams(documents)
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        log((coalesce(col("c12"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("vs"))).as("lnp"))
    val agg = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), avg(col("lnp")).as("mean_lnp"))
    documents.select("doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(exp(-col("mean_lnp")), 3).as("ppl"))
  }

  /** [[ModelStore]] name of the model persisted under `tag`. */
  def storeName(tag: String): String = s"${tag}_lmmodel"

  /** The model's part in a [[ModelStore]] generation. */
  private val Part = "lm"
  private val PartSchema = new org.apache.spark.sql.types.StructType()
    .add("kind", "string").add("w1", "string").add("w2", "string").add("n", "long")

  /** Write a trained bigram model as `g`'s [[Part]]: c12/c1/vs rows are
    * all DATA rows of ONE part (kind ∈ {c12, c1, vs}) — the torn-model
    * discipline of [[QualityClassifier.stage]]. */
  private[operators] def stage(g: ModelStore.Generation, c12: DataFrame,
                               c1: DataFrame, v: DataFrame): Unit =
    ModelStore.write(g, Part,
      c12.select(lit("c12").as("kind"), col("w1"), col("w2"), col("c12").as("n"))
        .unionAll(c1.select(lit("c1").as("kind"), col("w1"),
          lit(null).cast("string").as("w2"), col("c1").as("n")))
        .unionAll(v.select(lit("vs").as("kind"),
          lit(null).cast("string").as("w1"), lit(null).cast("string").as("w2"),
          col("vs").as("n"))))

  /** Read `g`'s bigram model: (c12, c1, v) in [[scoreWith]]'s shapes.
    * Loud on torn state — a missing/duplicated vs row means the part was
    * not written by [[stage]]. The c12/c1 relations stay FILE-BACKED (a
    * 100 TB web corpus's bigram vocabulary can exceed any collect or
    * broadcast budget — the [[scoreOn]] scale note). */
  private[operators] def read(spark: SparkSession,
                              g: ModelStore.Generation): (DataFrame, DataFrame, DataFrame) = {
    val t = g.read(spark, Part, PartSchema)
    val v = t.filter(col("kind") === "vs").select(col("n").as("vs"))
    require(v.count() == 1,
      s"${g.partPath(Part)}: expected exactly one vs row — torn model")
    (t.filter(col("kind") === "c12").select(col("w1"), col("w2"), col("n").as("c12")),
      t.filter(col("kind") === "c1").select(col("w1"), col("n").as("c1")),
      v)
  }

  /** Persist a trained bigram model as a new [[ModelStore]] generation. */
  def persist(spark: SparkSession, tag: String, c12: DataFrame,
              c1: DataFrame, v: DataFrame): Unit =
    ModelStore.publish(spark, storeName(tag))(stage(_, c12, c1, v))

  /** Load the newest persisted bigram model, validated once per
    * generation (cached by generation id). */
  def load(spark: SparkSession, tag: String): (DataFrame, DataFrame, DataFrame) =
    ModelStore.load(spark, storeName(tag), Part)(read(spark, _))

  /** The oracled query: self-trained scoring of the documents table (the
    * CCNet shape with train = score corpus — the in-domain calibration
    * run a pipeline does before choosing its filter threshold). */
  def perplexity(spark: SparkSession, dir: String): DataFrame =
    scoreOn(docs(spark, dir), docs(spark, dir)).orderBy("doc_id")

  /** DuckDB replica of the same relational formulation (position
    * self-join replaces the zip — same bigram relation). */
  def perplexitySql: String = """
WITH docs AS (
  SELECT doc_id,
    list_filter(string_split(lower(coalesce(text, '')), ' '), t -> len(t) > 0) AS toks
  FROM documents
), tok AS (
  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS i FROM docs
), bi AS (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
), c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2
), c1 AS (
  SELECT w1, count(*) AS c1 FROM bi GROUP BY w1
), v AS (
  SELECT count(DISTINCT w) AS vs FROM tok
), scored AS (
  SELECT bi.doc_id, ln((c12.c12 + 1.0) / (c1.c1 + v.vs)) AS lnp
  FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
), agg AS (
  SELECT doc_id, count(*) AS n_bigrams, avg(lnp) AS mean_lnp FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
  round(exp(-a.mean_lnp), 3) AS ppl
FROM (SELECT doc_id FROM documents) d
LEFT JOIN agg a USING (doc_id)
ORDER BY d.doc_id
""".trim
}
