package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, IndexFiles, Similarity}

/** The `meta_kv` plain-FS metadata sidecar (r13 optimization: the 1-row
  * parquet `meta` cost one Spark job per index save AND per load/high-water
  * probe — pure scheduler latency on planning reads). Pins: (1) the kv round
  * trip is exact and launches ZERO Spark jobs on the read path; (2) a
  * legacy artifact carrying only the parquet `meta` still loads (daemons
  * resuming a pre-r13 index path), including the embed gate's `tables`
  * default for metas older than the knob. */
class MetaKvSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  private def text(tag: String): String =
    s"the quick brown fox jumps over the lazy dog while seventeen green " +
      s"turtles carry heavy stones across the wide river valley token $tag"

  test("kv round trip is exact and the read path launches no Spark job") {
    val dir = tmpDir("metakv")
    IndexFiles.writeMetaKv(spark, dir, Seq(
      "bucket_cap" -> "32", "log_bloom_bits" -> "20", "last_delta" -> "7"))
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val m = IndexFiles.readMeta(spark, dir)
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(m == Map("bucket_cap" -> "32", "log_bloom_bits" -> "20",
      "last_delta" -> "7"))
    assert(after == before,
      "readMeta on a meta_kv artifact must not launch a Spark job")
    IndexFiles.delete(spark, dir)
  }

  test("index save writes meta_kv; load reads knobs and stamp through it") {
    val dir = tmpDir("metakv-save")
    val d = docsDf(1L -> text("a"), 2L -> text("b"), 3L -> text("c"))
    Dedup.CorpusFiles.save(Dedup.corpusIndex(d), dir)
    val base = IndexFiles.numbered(spark, dir, "base_v").last._2.toString
    val f = IndexFiles.fs(spark, dir)
    assert(f.exists(new org.apache.hadoop.fs.Path(base, "meta_kv")))
    assert(!f.exists(new org.apache.hadoop.fs.Path(base, "meta")),
      "the legacy parquet meta must no longer be written")
    val loaded = Dedup.CorpusFiles.load(spark, dir)
    assert(loaded.bucketCap == Dedup.DefaultBucketCap)
    loaded.release()
    IndexFiles.delete(spark, dir)
  }

  test("legacy parquet-meta artifacts still load, with the embed tables default") {
    import spark.implicits._
    val dir = tmpDir("metakv-legacy")
    val e = Tables2.embeddings(spark, 12)
    Similarity.EmbedFiles.save(Similarity.embedIndex(e), dir)
    val base = IndexFiles.numbered(spark, dir, "base_v").last._2.toString
    // devolve the artifact: replace meta_kv with a pre-r13 parquet meta
    // that lacks the `tables` column entirely
    val f = IndexFiles.fs(spark, dir)
    f.delete(new org.apache.hadoop.fs.Path(base, "meta_kv"), false)
    Seq((Dedup.DefaultBucketCap, 0L)).toDF("bucket_cap", "last_delta")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/meta")
    val loaded = Similarity.EmbedFiles.load(spark, dir)
    assert(loaded.bucketCap == Dedup.DefaultBucketCap)
    // 4 = the pre-r13 global NumTables constant those metas were built at
    assert(loaded.tables == 4,
      "a meta without `tables` must default to the pre-r13 global table count")
    loaded.release()
    IndexFiles.delete(spark, dir)
  }
}

/** Tiny deterministic embedding frame for MetaKvSpec (no fixture reads). */
private object Tables2 {
  def embeddings(spark: org.apache.spark.sql.SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, "t", (0 until 8).map(j => math.sin(i * 8 + j).toFloat).toArray)
    }.toDF("vec_id", "label", "embedding")
  }
}
