package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Dedup, Graph, Ordination, Relational, Similarity}

/** One expensive build, many consumers: a frame computed once per
  * (session, sf dir) and reused by every registry key that reads it —
  * the way an analysis session computes the distance matrix once and
  * feeds it to mantel, adonis and the ordinations.
  *
  * OWNER/CONSUMER RULE: each entry names the registry key that OWNS
  * its build. The owner calls [[refresh]], which always rebuilds and
  * stores the frame, so the bench times the build under the owner's
  * key on every rep. Consumers call [[get]], which reuses the stored
  * frame or builds it once if the owner has not run in this session.
  * Every build is deterministic, so a reused frame is row-identical
  * to a rebuild (MemoSpec checks this for every entry).
  *
  * The store is weakly keyed on the SparkSession: nothing survives
  * the session, so every bench or verify run rebuilds from parquet.
  */
final class Memo private (val name: String, val owner: Option[String],
    build: (SparkSession, String) => DataFrame) {

  private def key(dir: String) = name + "|" + dir

  /** Owner path: rebuild, store and return the frame. */
  def refresh(s: SparkSession, dir: String): DataFrame = {
    val f = build(s, dir)
    Memo.store(s).put(key(dir), f)
    f
  }

  /** Consumer path: the stored frame, else one stored build. */
  def get(s: SparkSession, dir: String): DataFrame =
    stored(s, dir).getOrElse(refresh(s, dir))

  private[graft] def stored(s: SparkSession, dir: String): Option[DataFrame] =
    Option(Memo.store(s).get(key(dir)))
}

object Memo {
  private val stores = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, DataFrame]])
  private def store(s: SparkSession) =
    stores.computeIfAbsent(s, _ => new ConcurrentHashMap[String, DataFrame])

  private def apply(name: String, owner: String)(
      build: (SparkSession, String) => DataFrame): Memo =
    new Memo(name, Option(owner), build)

  /** d7's dedup decision; consumers d8/d9. */
  val d7 = Memo("d7", "d7_dedup_pipeline")(Dedup.dedupPipeline(_, _))

  /** The NN-Descent kNN edge frame; consumers s18/s22. */
  val ann = Memo("ann", "s17_knn_graph") { (s, d) =>
    Similarity.knnGraphEdges(Tables.parallel(Tables.load(s, d, "embeddings")),
      Similarity.KnnK, Similarity.KnnRounds)
  }

  /** s22's coarse index layer. s17 owns it too, so the bench times the
    * whole hierarchical index build under the builder key. */
  val s22Coarse = Memo("s22coarse", "s17_knn_graph") { (s, d) =>
    Similarity.hnswCoarseEdges(Tables.parallel(Tables.load(s, d, "embeddings")))
  }

  /** g28's spanning forest (the single-linkage dendrogram); consumers
    * g29/g30. */
  val msf = Memo("msf", "g28_msf")(Graph.g28ForestFrame(_, _))

  /** The (n_name, p_type, qty) abundance matrix behind Bray–Curtis and
    * the constrained ordinations. Refreshed inside
    * [[Relational.q30BrayCurtis]]. */
  val abq = Memo("abq", "q30_bray_curtis")(Relational.abundanceQty(_, _))

  /** The (n_name, taxon) presence frame of the incidence-based keys. */
  val pres = Memo("pres", "q56_beta_partition")(Relational.presenceFrame(_, _))

  /** The (n_name, l_partkey, cnt) count abundance of the richness and
    * Hill/Rényi keys. */
  val abCnt = Memo("abcnt", "q53_richness")(Relational.abundanceCnt(_, _))

  /** q30's Bray–Curtis (sample_a, sample_b, bray_curtis) pair frame,
    * read by the mantel/adonis/anosim/ordination family. */
  val bc = Memo("bc", "q30_bray_curtis") { (s, d) =>
    Ckpt(Relational.q30BrayCurtis(s, d))
  }

  /** q44's UniFrac leaf-abundance frame; consumers via [[uf]]. */
  val ufLeaves = Memo("ufleaves", "q44_taxonomy_unifrac")(
    Relational.unifracLeafAbundance(_, _))

  /** The UniFrac pair frame over [[ufLeaves]], read by q47/q68. No
    * owner: q44 refreshes the leaves and returns the lazy pair
    * derivation, so the first consumer materializes this one. */
  val uf = new Memo("uf", None, (s, d) =>
    Ckpt(Relational.unifracFromLeaves(ufLeaves.get(s, d))))

  /** q31's PCoA (sample, axis1, axis2) configuration over [[bc]];
    * consumers q55/q61/q72/q85. */
  val pcoa = Memo("pcoa", "q31_pcoa") { (s, d) =>
    Ckpt(Ordination.pcoa(bc.get(s, d)))
  }

  val all: Seq[Memo] =
    Seq(d7, ann, s22Coarse, msf, abq, pres, abCnt, bc, ufLeaves, uf, pcoa)
}
