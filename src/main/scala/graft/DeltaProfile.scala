package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod}

/** Dev-only phase profiler for the index-delta persistence rows: replays
  * `dedup_index_delta` / `embed_index_delta` phase by phase with wall
  * timers, twice (cold pins, then warm pins — the bench's best-of-2 floor),
  * so optimization targets inside the round trip are visible. Not part of
  * the driver contract. */
object DeltaProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators._
    def stage(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[delta] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val which = if (args.isEmpty) "dedup" else args.head
    (1 to 2).foreach { attempt =>
      println(s"[delta] ---- $which attempt $attempt ----")
      if (which == "dedup") {
        val d = Tables.load(spark, sfDir, "documents")
        val path = java.nio.file.Files.createTempDirectory("graft-prof").toString
        var idx0: Dedup.CorpusIndex = null
        stage("build_base") { idx0 = Dedup.corpusIndex(
          d.filter(pmod(col("doc_id"), lit(3)) === 0)) }
        stage("save_base")(Dedup.CorpusFiles.save(idx0, path))
        var loaded: Dedup.CorpusIndex = null
        stage("load_base") { loaded = Dedup.CorpusFiles.load(spark, path) }
        var delta: Dedup.IndexDelta = null
        var drop: () => Unit = null
        stage("fold") {
          val (_, dd, dr) = Dedup.refreshIndexTracked(
            loaded, d.filter(pmod(col("doc_id"), lit(3)) === 1))
          delta = dd; drop = dr
        }
        stage("save_delta")(Dedup.CorpusFiles.saveDelta(delta, path))
        drop(); loaded.release()
        var pinned: Dedup.CorpusIndex = null
        stage("reload") {
          val reloaded = Dedup.CorpusFiles.load(spark, path)
          pinned = reloaded.truncated()
          reloaded.release()
        }
        IndexFiles.delete(spark, path)
        stage("gate_query") {
          Dedup.bestMatchAgainst(d.filter(pmod(col("doc_id"), lit(3)) === 2), pinned)
            .orderBy("doc_id")
            .write.format("noop").mode("overwrite").save()
        }
      } else if (which == "graph") {
        val e = Tables.load(spark, sfDir, "embeddings")
        val path = java.nio.file.Files.createTempDirectory("graft-prof").toString
        var idx0: Similarity.KnnGraphIndex = null
        stage("build_base") { idx0 = Similarity.knnGraphIndex(
          e.filter(pmod(col("vec_id"), lit(3)) === 0)) }
        stage("save_base")(Similarity.GraphFiles.save(idx0, path))
        var holder: graft.operators.RefreshableKnnGraph = null
        stage("load_base") { holder = new graft.operators.RefreshableKnnGraph(
          Similarity.GraphFiles.load(spark, path)) }
        stage("fold")(holder.fold(
          e.filter(pmod(col("vec_id"), lit(3)) === 1), deltaPath = Some(path)))
        var pinned: Similarity.KnnGraphIndex = null
        stage("reload") {
          val reloaded = Similarity.GraphFiles.load(spark, path)
          pinned = reloaded.truncated()
          reloaded.release()
        }
        IndexFiles.delete(spark, path)
        stage("gate_query") {
          pinned.edges.orderBy("query_id", "rnk")
            .write.format("noop").mode("overwrite").save()
        }
      } else if (which == "pq") {
        val e = Tables.load(spark, sfDir, "embeddings")
        val path = java.nio.file.Files.createTempDirectory("graft-prof").toString
        var idx0: Similarity.PqIndex = null
        stage("build_base") { idx0 = Similarity.pqIndexBuild(
          e.filter(pmod(col("vec_id"), lit(3)) === 0)) }
        stage("save_base")(Similarity.PqFiles.save(idx0, path))
        var loaded: Similarity.PqIndex = null
        stage("load_base") { loaded = Similarity.PqFiles.load(spark, path) }
        var delta: Similarity.PqDelta = null
        var drop: () => Unit = null
        stage("fold") {
          val (_, dd, dr) = Similarity.appendEncodePqTracked(
            loaded, e.filter(pmod(col("vec_id"), lit(3)) === 1))
          delta = dd; drop = dr
        }
        stage("save_delta")(Similarity.PqFiles.saveDelta(delta, path))
        drop(); loaded.release()
        var pinned: Similarity.PqIndex = null
        stage("reload") {
          val reloaded = Similarity.PqFiles.load(spark, path)
          pinned = reloaded.truncated()
          reloaded.release()
        }
        IndexFiles.delete(spark, path)
        stage("gate_query") {
          Similarity.pqTopKOver(pinned)
            .write.format("noop").mode("overwrite").save()
        }
      } else {
        val e = Tables.load(spark, sfDir, "embeddings")
        val path = java.nio.file.Files.createTempDirectory("graft-prof").toString
        var idx0: Similarity.EmbedIndex = null
        stage("build_base") { idx0 = Similarity.embedIndex(
          e.filter(pmod(col("vec_id"), lit(3)) === 0)) }
        stage("save_base")(Similarity.EmbedFiles.save(idx0, path))
        var loaded: Similarity.EmbedIndex = null
        stage("load_base") { loaded = Similarity.EmbedFiles.load(spark, path) }
        var delta: Similarity.EmbedDelta = null
        var drop: () => Unit = null
        stage("fold") {
          val (_, dd, dr) = Similarity.refreshEmbedIndexTracked(
            loaded, e.filter(pmod(col("vec_id"), lit(3)) === 1))
          delta = dd; drop = dr
        }
        stage("save_delta")(Similarity.EmbedFiles.saveDelta(delta, path))
        drop(); loaded.release()
        var pinned: Similarity.EmbedIndex = null
        stage("reload") {
          val reloaded = Similarity.EmbedFiles.load(spark, path)
          pinned = reloaded.truncated()
          reloaded.release()
        }
        IndexFiles.delete(spark, path)
        stage("gate_query") {
          Similarity.embedNoveltyAgainst(
            e.filter(pmod(col("vec_id"), lit(3)) === 2), pinned)
            .write.format("noop").mode("overwrite").save()
        }
      }
    }
    spark.stop()
  }
}
