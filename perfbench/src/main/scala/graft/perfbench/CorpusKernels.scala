package graft.perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextHashFunctions, VectorFunctions}
import graft.operators.{Similarity, Sketch, TextOps}
import graft.sources.Tables

object CorpusKernels {
  val names: Seq[String] = Seq("minhash", "kll_level", "cosine")
}

/** Three per-row native-expression kernels over in-plan replicated
  * fixtures: MinHash signatures of word shingles, KLL md5 leveling, and
  * cosine scoring against trained k-means centroids. */
final class CorpusKernels(run: Run, tiny: Boolean) {
  /** Replication factors: documents, lineitem, embeddings. */
  private val (repDocs, repLines, repEmb) = if (tiny) (1, 1, 1) else (32, 8, 512)
  private var centroids: DataFrame = _
  private var rows: Map[String, Long] = Map.empty

  /** Train the centroids once per run (set-up, not kernel time) and hold
    * them as a local relation, so scoring never re-runs training. */
  def train(dir: File): Unit = {
    val spark = run.spark
    val emb = Tables.embeddings(spark, dir.getAbsolutePath)
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 16, 2).collect()
    centroids = spark.createDataFrame(
      java.util.Arrays.asList(cents: _*), cents.head.schema)
    rows = Map(
      "minhash" -> Tables.documents(spark, dir.getAbsolutePath).count() * repDocs,
      "kll_level" -> Tables.lineitem(spark, dir.getAbsolutePath).count() * repLines,
      "cosine" -> emb.count() * repEmb)
  }

  /** `n` in-plan copies of every row, tagged by `rep`: a broadcast cross
    * join, so each expression is compiled once, after a round-robin
    * spread so every core gets a share of the single-file fixture. */
  private def replicate(df: DataFrame, n: Int): DataFrame = {
    val s = df.sparkSession
    df.repartition(s.sparkContext.defaultParallelism)
      .crossJoin(broadcast(s.range(n).withColumnRenamed("id", "rep")))
  }

  /** The frames kernel `k` produces; executing them is the kernel. */
  def outputs(k: String, dir: File): Seq[DataFrame] = {
    val spark = run.spark
    val d = dir.getAbsolutePath
    k match {
      case "minhash" =>
        Seq(replicate(Tables.documents(spark, d), repDocs).select(
          col("doc_id"), col("rep"),
          TextHashFunctions.minHashSigs(TextOps.wordShingles(col("text"), 3), 12).as("sigs")))
      case "kll_level" =>
        val leveled = Sketch.kllLeveled(
          replicate(Tables.lineitem(spark, d), repLines), col("l_extendedprice"),
          concat_ws("|", Seq("l_orderkey", "l_linenumber", "rep").map(col(_).cast("string")): _*))
        Seq(Sketch.kllCounts(leveled), Sketch.kllSurvivors(leveled, 1024))
      case "cosine" =>
        Seq(replicate(Tables.embeddings(spark, d), repEmb)
          .crossJoin(broadcast(centroids))
          .select(col("cell"),
                  VectorFunctions.cosineSim(col("embedding"), col("centroid")).as("cs"))
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n"), max(col("cs")).as("max_cs"),
               min(col("cs")).as("min_cs"), count(when(col("cs") > 0.5, 1)).as("n_close")))
    }
  }

  def layers(traced: Measure): Map[String, Double] =
    CorpusKernels.names.flatMap { k =>
      val s = traced.opMedian(k)
      Seq(s"functions.${k}_s" -> s, s"functions.${k}_rows_per_s" -> rows(k) / s)
    }.toMap
}
