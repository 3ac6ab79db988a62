package graft

import graft.operators.Relational

/** Consumer-level identity gates over the build memos: derivations
  * that read a memo must equal their pre-memo shapes. The per-memo
  * owner/rebuild contract is MemoSpec's. */
class SharedBuildsSpec extends SparkSpec {

  test("memo consumers (q47/q68/q67/q85) are row-identical to the " +
       "pre-memo derivation shapes") {
    // q47's pre-memo form derived BOTH matrices from one leaf
    // aggregate; the memo form reads bc + uf. The leaf-rollup bc is
    // bit-identical to q30's direct aggregate (exact DECIMAL sums),
    // so the two forms must agree row-for-row.
    val leaves = Memo.ufLeaves.get(spark, sfDir)
    val bcFromLeaves = Relational.brayCurtisFromAbundance(
      leaves.groupBy(org.apache.spark.sql.functions.col("n_name"),
          org.apache.spark.sql.functions.col("p_type"))
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("qty")).as("qty")))
      .collect().map(_.toSeq).toSeq
    val bcDirect = Relational.q30BrayCurtis(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(bcFromLeaves == bcDirect,
      "leaf-rollup Bray-Curtis diverged from q30's direct aggregate — " +
        "the q47/q68 memo rewiring is NOT output-preserving")
  }

  test("s17's builder entry rebuilds BOTH index layers and s22 through " +
       "the memoized coarse graph equals an inline memo-free rebuild") {
    import graft.operators.Similarity
    // the builder key: must refresh the base AND coarse memos, so the
    // s22 entry right after reads only memoized frames
    SparkEntry.queries("s17_knn_graph")(spark, sfDir).collect()
    val viaMemo = SparkEntry.queries("s22_hnsw")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // memo-free twin: base edges and coarse layer rebuilt inline
    // (coarseEdges0 = null path inside hnswSearchOn)
    val emb = Tables.parallel(Tables.load(spark, sfDir, "embeddings"))
    val inline = Similarity.hnswSearchOn(emb,
      Similarity.knnGraphEdges(emb, Similarity.KnnK, Similarity.KnnRounds),
      Similarity.KnnK, Similarity.KnnRounds,
      Similarity.SearchBeam, Similarity.SearchHops)
      .collect().map(_.toSeq).toSeq
    assert(viaMemo == inline,
      "s22 through the memoized coarse layer diverged from the " +
        "inline rebuild — the s17-owned coarse memo is NOT " +
        "output-preserving")
  }
}
