package graft.model

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.operators.{CurationPipeline, Dedup, Pii, Sampling, Tables, TextAnalysis}

/** One row of the `documents` table, the unit every pipeline op consumes. */
case class Document(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)

/** [[Sampling.packChunks]] output: a document's place in the packed
  * fixed-budget training stream of its source. */
case class PackedChunk(source: String, doc_id: Long, n_tokens: Long,
    tok_offset: Long, chunk_first: Long, chunk_last: Long)

/** [[Dedup.corpusReport]] output: the one-row corpus health card. */
case class CorpusReport(n_docs: Long, n_distinct_texts: Long,
    n_canonical_texts: Long, n_families: Long, n_langs: Long,
    total_tokens: Long, sum_q100: Long, exact_dup_rate: Double,
    near_dup_rate: Double, mean_quality: Double)

/** Typed `Dataset[Document]` veneer over the pipeline operators — the
  * case-class-encoded API a caller composes instead of wiring DataFrames:
  *
  * {{{
  *   import graft.model.Documents._
  *   val ready: Dataset[PackedChunk] =
  *     Documents.load(spark, dir)
  *       .withoutExactDups
  *       .keptByRepetition
  *       .sampledMixture(rates, 0.5)
  *       .packed()
  * }}}
  *
  * Every method delegates to the same operators the untyped queries run
  * (one implementation, two surfaces), and the filters stay map-side — the
  * chain above shuffles only where the underlying ops do (the dedup
  * fingerprint aggregation and the per-source packing window). Encoders are
  * resolved once per call from the session's implicits. */
object Documents {

  // product encoders are session-free — resolved once here, shared by every
  // typed call site
  private implicit val documentEnc: org.apache.spark.sql.Encoder[Document] =
    org.apache.spark.sql.Encoders.product[Document]
  private implicit val packedChunkEnc: org.apache.spark.sql.Encoder[PackedChunk] =
    org.apache.spark.sql.Encoders.product[PackedChunk]
  private implicit val corpusReportEnc: org.apache.spark.sql.Encoder[CorpusReport] =
    org.apache.spark.sql.Encoders.product[CorpusReport]

  def load(spark: SparkSession, dir: String): Dataset[Document] =
    Tables.load(spark, dir, "documents").as[Document]

  implicit class DocumentOps(private val ds: Dataset[Document]) extends AnyVal {
    private def df: DataFrame = ds.toDF()

    /** Keep one document per distinct text (the minimum id, matching
      * [[Dedup.exact]]'s keep rule): a broadcast-friendly semi join against
      * the 16-byte-keyed group table. */
    def withoutExactDups: Dataset[Document] =
      ds.join(Dedup.exact(df).select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
        .as[Document]

    /** PII-scrubbed copy: `text` replaced by [[Pii.scrub]]'s sequential
      * redaction (`n_chars` recomputed); pure map-side. */
    def scrubbed: Dataset[Document] =
      Pii.scrub(df, "text")
        .withColumn("text", col("redacted"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .as[Document]

    /** The one-row corpus health card, typed ([[Dedup.corpusReport]]). */
    def report: Dataset[CorpusReport] =
      Dedup.corpusReport(df).as[CorpusReport]

    /** Map-side repetition filter ([[TextAnalysis.repetitionKeep]]). */
    def keptByRepetition(topBigramMax: Double = 0.18,
        dupTokenMax: Double = 0.5): Dataset[Document] =
      ds.filter(TextAnalysis.repetitionKeep(topBigramMax, dupTokenMax))

    /** Map-side linear quality-classifier filter
      * ([[TextAnalysis.qualityClassifierKeep]]). */
    def keptByClassifier: Dataset[Document] =
      ds.filter(TextAnalysis.qualityClassifierKeep)

    /** Map-side deterministic mixture sampling
      * ([[Sampling.keepCondition]]). */
    def sampledMixture(rates: Map[String, Double],
        defaultRate: Double): Dataset[Document] =
      ds.filter(Sampling.keepCondition(rates, defaultRate))

    /** Typed [[Sampling.packChunks]]. */
    def packed(budget: Long = 512): Dataset[PackedChunk] =
      Sampling.packChunks(df, budget).as[PackedChunk]

    /** The full curation pass — the typed twin of
      * [[graft.operators.CurationPipeline.e2e]] (same stages, same
      * operators, one declarative plan). */
    def curated(rates: Map[String, Double] = Sampling.DefaultRates,
        defaultRate: Double = Sampling.DefaultRate,
        budget: Long = 512): Dataset[PackedChunk] =
      ds.withoutExactDups
        .keptByRepetition()
        .keptByClassifier
        .sampledMixture(rates, defaultRate)
        .packed(budget)
  }

  /** Mean whitespace-token count as a typed `Aggregator` — the
    * `Dataset`-native aggregation form (partial-aggregates map-side like any
    * `Agg`; usable via `ds.select(Documents.avgTokens.toColumn)`). */
  val avgTokens: Aggregator[Document, (Long, Long), Double] =
    new Aggregator[Document, (Long, Long), Double] {
      import org.apache.spark.sql.{Encoder, Encoders}
      def zero: (Long, Long) = (0L, 0L)
      def reduce(b: (Long, Long), d: Document): (Long, Long) =
        (b._1 + d.text.split(" ").length, b._2 + 1)
      def merge(x: (Long, Long), y: (Long, Long)): (Long, Long) =
        (x._1 + y._1, x._2 + y._2)
      def finish(b: (Long, Long)): Double = b._1.toDouble / b._2
      def bufferEncoder: Encoder[(Long, Long)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
      def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }
}
