package graft

import org.apache.spark.sql.functions._

import graft.model.{Documents, PackedChunk}
import graft.operators.{Dedup, Sampling, TextAnalysis, Tables}

/** The typed Dataset[Document] veneer: same results as the untyped
  * operators it delegates to, typed field access, and the end-to-end
  * composition a pipeline caller would actually write. */
class DocumentsApiSpec extends SparkSpec {
  import Documents._

  private lazy val docs = Documents.load(spark, sf())

  test("typed load: case-class field access works and matches the table") {
    val viaCase = docs.map(d => d.n_chars)(org.apache.spark.sql.Encoders.scalaLong)
      .reduce(_ + _)
    val viaSql = Tables.load(spark, sf(), "documents")
      .agg(sum("n_chars")).head().getLong(0)
    assert(viaCase == viaSql)
  }

  test("withoutExactDups keeps exactly the dedup keep_ids") {
    val typed = docs.withoutExactDups.collect().map(_.doc_id).sorted
    val untyped = Dedup.exact(docs.toDF()).select("keep_id").collect()
      .map(_.getLong(0)).sorted
    assert(typed.sameElements(untyped))
  }

  test("typed filters match the untyped operator outputs") {
    val keptRep = docs.keptByRepetition().collect().map(_.doc_id).toSet
    val oracle = TextAnalysis.repetition(docs.toDF()).filter(col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptRep == oracle)

    val sampled = docs.sampledMixture(Sampling.DefaultRates, Sampling.DefaultRate)
      .collect().map(_.doc_id).toSet
    val keptOracle = Sampling.hashSampleKept(docs.toDF(), Sampling.DefaultRates,
      Sampling.DefaultRate).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sampled == keptOracle)
  }

  test("new typed accessors match their untyped operators") {
    val r = docs.report.head()
    assert(r.n_docs == docs.count())
    assert(r.n_distinct_texts <= r.n_docs && r.n_families <= r.n_distinct_texts)
    assert(r.exact_dup_rate >= 0.0 && r.near_dup_rate >= r.exact_dup_rate - 1e-12)

    // scrub preserves ids and recomputes n_chars on the redacted text
    val s = docs.scrubbed.collect()
    assert(s.map(_.doc_id).sorted.sameElements(docs.collect().map(_.doc_id).sorted))
    s.foreach(d => assert(d.n_chars == d.text.length.toLong))
  }

  test("end-to-end typed chain: dedup -> repetition -> mixture -> pack") {
    val packed: Array[PackedChunk] = docs
      .withoutExactDups
      .keptByRepetition()
      .sampledMixture(Sampling.DefaultRates, Sampling.DefaultRate)
      .packed()
      .collect()
    assert(packed.nonEmpty)
    // offsets are contiguous per source in doc_id order (packChunks contract)
    packed.groupBy(_.source).foreach { case (_, rs) =>
      rs.sortBy(_.doc_id).foldLeft(0L) { (expected, r) =>
        assert(r.tok_offset == expected)
        expected + r.n_tokens
      }
    }
  }

  test("curated: the typed chain equals CurationPipeline.e2e row for row") {
    val typed = docs.curated().collect()
      .map(c => (c.source, c.doc_id, c.n_tokens, c.tok_offset, c.chunk_first, c.chunk_last))
      .sortBy(t => (t._1, t._2))
    val untyped = graft.operators.CurationPipeline.e2e(docs.toDF()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(t => (t._1, t._2))
    assert(typed.nonEmpty && typed.sameElements(untyped))
  }

  test("typed aggregator: avgTokens equals the SQL mean") {
    val typed = docs.select(Documents.avgTokens.toColumn).head()
    val viaSql = docs.toDF()
      .agg(avg(size(split(col("text"), " ")))).head().getDouble(0)
    assert(math.abs(typed - viaSql) < 1e-9)
  }
}
