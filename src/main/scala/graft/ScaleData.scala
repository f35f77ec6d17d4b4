package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Render a ~10× corpus (sf1-equivalent `events` / `documents` /
  * `embeddings`) from sf0.1 — the input for the scale-curve bench
  * ([[BenchScale]]): the brief demands plans that survive 100×, and a
  * two-point curve (sf0.1 → sf1) is the cheapest empirical check that a
  * row's cost is ~linear in the data rather than in some quadratic
  * candidate structure.
  *
  * Each copy is id-shifted AND content-perturbed. The perturbation must
  * be STRONG: a first cut used a per-copy text suffix and a 1e-2 nudge on
  * one embedding component, which made every document/vector a 10-member
  * NEAR-DUP group — the similarity-join rows then measured a corpus whose
  * duplicate density grew 10×, not a corpus that grew 10× (their
  * candidate volume is quadratic in group size by design, and the curve
  * read as super-linear when the operator was fine). So:
  *
  *   - `documents`: every other token carries a copy tag (every shingle
  *     of every copy differs — cross-copy Jaccard lands far below every
  *     near-dup threshold; token counts and doc lengths stay corpus-like);
  *   - `embeddings`: components circularly shifted by the copy index
  *     (norms and component distributions preserved, directions new);
  *   - `events`: ids shifted, users/timestamps kept (a grown corpus has
  *     more events per user, not 10× disjoint universes).
  *
  * The small relational tables copy through unchanged. Output stays under
  * target/ (git-ignored); usage: `runMain graft.ScaleData [src] [dst]`. */
object ScaleData {
  val Factor = 10

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/testdata/sf1x")
    val spark = LocalSession(16)

    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until Factor).map(i => f(df, i)).reduce(_ unionByName _)

    val ev = spark.read.parquet(s"$src/events.parquet")
    val evMax = ev.agg(max("event_id")).head().getLong(0) + 1
    copies(ev)((d, i) => d.withColumn("event_id", col("event_id") + lit(i * evMax)))
      .repartition(32).write.mode("overwrite").parquet(s"$dst/events.parquet")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docMax = docs.agg(max("doc_id")).head().getLong(0) + 1
    copies(docs) { (d, i) =>
      val mutated =
        if (i == 0) d
        else d.withColumn("text", expr(
          s"array_join(transform(split(text, ' '), (w, j) -> " +
            s"IF(j % 2 = 0, concat(w, '$i'), w)), ' ')"))
      mutated.withColumn("doc_id", col("doc_id") + lit(i * docMax))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.repartition(16).write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val embMax = emb.agg(max("vec_id")).head().getLong(0) + 1
    copies(emb) { (d, i) =>
      d.withColumn("vec_id", col("vec_id") + lit(i * embMax))
        .withColumn("embedding", expr(
          s"transform(embedding, (x, j) -> " +
            s"element_at(embedding, CAST(pmod(j + $i, size(embedding)) AS INT) + 1))"))
    }.repartition(16).write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    println(s"[scaledata] wrote ${Factor}x events/documents/embeddings to $dst")
    spark.stop()
  }
}
