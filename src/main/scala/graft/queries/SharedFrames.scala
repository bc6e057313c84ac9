package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.VectorFunctions
import graft.operators.{Dedup, Graphs, Similarity, TextOps}
import graft.sources.Tables

/** The registry's cross-query shared frames, declared once. Each feeds
  * 2-8 registry rows, which keep calling the same builders: CacheManager
  * `sameResult` hands them the cached relation. Bench builds the list in
  * its timed `_shared_frames` prewarm, so a shared build lands in one
  * labeled line, not on whichever consumer runs first after a clear.
  *
  * Dependency order, producers before consumers: a frame persisted
  * after its producer caches a plan that scans the producer's
  * `InMemoryRelation` (kll_shared → kll_estimates, co_purchase_edges →
  * lpa_labels, gram_state → power_iter_v, transition_user →
  * transition_edges).
  */
object SharedFrames {
  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private def emb(s: SparkSession, dir: String) = {
    VectorFunctions.register(s)
    Tables.embeddings(s, dir)
  }

  val frames: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // text-dedup sketches and pair tables at the registry defaults
    ("shingle_set", (s, d) => Dedup.shingleSet(docs(s, d), "doc_id", "text", 3)),
    ("minhash_sigs", (s, d) =>
      Dedup.minHashSignatures(docs(s, d), "doc_id", "text", 3, 12)),
    ("simhash", (s, d) => Dedup.simHashSketch(docs(s, d), "doc_id", "text")),
    ("jaccard_pairs", (s, d) => Dedup.jaccardPairs(docs(s, d), "doc_id", "text")),
    ("minhash_pairs", (s, d) => Dedup.minHashCandidatePairs(docs(s, d),
      "doc_id", "text", DocQueries.ShingleN, DocQueries.MinHashK,
      DocQueries.RowsPerBand)),
    ("simhash_pairs", (s, d) => Dedup.simHashPairs(docs(s, d), "doc_id", "text")),
    // n = 2..10 gram counts for both gopher rows
    ("gopher_grams", DocQueries.gopherGramCounts),
    ("bpe_word_freq", (s, d) =>
      TextOps.bpeWordFreq(Tables.spread(docs(s, d)), "text")),
    ("winnow_fps", DocQueries.textWinnowing),
    ("bm25_scored", DocQueries.bm25Scored),
    ("char_entropy", DocQueries.textCharEntropy),
    ("ttr_segmental", DocQueries.textTtrSegmental),
    ("trigram_scored", DocQueries.trigramScored),
    // eager at construction (driver-batched GD, memoized per dir): the
    // training lands in the prewarm, not on the first text_lr_* row
    ("lr_weights", DocQueries.lrWeights),
    // truth@3 of the recall rows, the k-means quantizer, the PQ codebook
    ("sim_brute_truth3", (s, d) => Similarity.bruteForceTopK(
      emb(s, d), "vec_id", "embedding", VectorQueries.queryPred, 3)),
    ("sim_kmeans_cells", (s, d) => Similarity.kmeansCells(emb(s, d),
      "vec_id", "embedding", VectorQueries.KmC, VectorQueries.KmIters)),
    ("sim_pq_codebook", (s, d) => Similarity.pqCodebook(
      emb(s, d), "embedding", "label", VectorQueries.PqM, VectorQueries.Dims)),
    ("gram_state", (s, d) =>
      Similarity.gramState(emb(s, d), "vec_id", "embedding")),
    ("power_iter_v", (s, d) =>
      Similarity.powerIteration(emb(s, d), "vec_id", "embedding", 3)),
    // graph edge lists and the trained LPA labels
    ("co_purchase_edges", RelationalQueries.coPurchaseEdges),
    ("co_ship_edges", RelationalQueries.coShipEdges),
    ("lpa_labels", (s, d) => Graphs.labelPropagation(
      RelationalQueries.coPurchaseEdges(s, d), "a", "b", rounds = 4)),
    // one KLL leveled stream and its 5-row estimate frame
    ("kll_shared", RelationalQueries.kllLevShared),
    ("kll_estimates", RelationalQueries.kllQuantilesQuery),
    // the transition digraph, user-day activity, first-seen day and the
    // per-user lifetime panel
    ("transition_user", EventQueries.transitionUserEdges),
    ("transition_edges", EventQueries.transitionEdges),
    ("evt_user_days", EventQueries.userDays),
    ("evt_first_day", EventQueries.userFirstDay),
    ("evt_user_panel", EventQueries.userPanel))
}
