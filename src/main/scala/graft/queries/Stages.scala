package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.ops.{ParquetStage, SessionStage}
import graft.pipeline.{BpeTrainer, ProbeTrainer}

/** The catalog's trained stages: each is built once per (session,
  * corpus dir) and read by every consumer. Bench reports the queries
  * that read one as `trained_stages`, because their timed number
  * covers the consumer path only; the oracles replay full training on
  * every run. The contract for staleness, eviction and build-time
  * recording is in [[SessionStage]]. A stage that its consumers join
  * against is a [[ParquetStage]], so that the scan keeps size
  * statistics.
  */
object Stages {

  /** q24's verified (id_a, id_b) pairs. q147, q157 and the label stage
    * below would each re-run shingle → minhash → LSH → verify. */
  val nearDupPairs = new ParquetStage("near_dup_pairs",
    (s, d) => TextVector.queries("q24_near_dup")(s, d).select("id_a", "id_b"))

  /** Connected-component labels (id, label = min doc_id of the
    * cluster) for q63/q65/q67/q128/q180 and the curation export. Built
    * per consumer, the component loop re-read the corpus once per
    * question about ONE label table. `ConnectedComponents.run` returns
    * a projection over a `localCheckpoint`ed RDD, so the memo carries
    * no lineage and survives `spark.catalog.clearCache()`. */
  val nearDupLabels = new SessionStage[DataFrame]("near_dup_labels",
    (s, d) => graft.ops.ConnectedComponents.run(
      nearDupPairs.get(s, d), "id_a", "id_b"))

  /** The BPE merge table of q92 and q105: a few dozen driver-side
    * tuples, while the 6-round training loop cost ~1.2 s per consumer
    * at sf0.1. */
  val bpeMerges = new SessionStage[Seq[BpeTrainer.Merge]]("bpe_merges",
    (s, d) => BpeTrainer.train(
      s, Tables.documents(s, d), "text", Corpus.BpeRounds, minFreq = 1L))

  /** q98's probe weights (K·(D+1) driver-side longs), also scored by
    * q113/q132/q174: a pipeline trains the head once and scores with
    * it. */
  val probeWeights = new SessionStage[Array[Array[Long]]]("probe_weights",
    (s, d) => ProbeTrainer.train(Tables.embeddings(s, d))._1)

  /** The IVF coarse quantizer of q104/q108/q115: an index trains its
    * quantizer once, and the codebook is bounded driver state. */
  val ivfQuantizer = new SessionStage[Array[Array[Double]]]("ivf_quantizer",
    (s, d) => TextVector.trainedCentsDyn(Tables.embeddings(s, d)))

  /** q129's top-PC fit, which q130 applies: a pipeline fits the
    * whitening stats once for both the report and the transform. */
  val pcFit = new SessionStage[Learn.PcFit]("pc_fit",
    (s, d) => Learn.pcFit(Tables.embeddings(s, d)))

  /** The citation edges (src, dst) that q101 ranks and q170 counts
    * triangles over; each re-derived them from the corpus. */
  val citationEdges = new ParquetStage("citation_edges",
    (s, d) => Graph.citationEdges(Tables.documents(s, d)))

  /** The (source, w, csw) count table of q177 and q179, which each
    * paid the full tokenize + combine. Only the two query entries read
    * it: the spec hooks and CorpusStatsMaintenance work on frames that
    * have no corpus dir to key by. */
  val sourceTermCounts = new ParquetStage("source_term_counts",
    (s, d) => Corpus.sourceTermCounts(
      Tables.documents(s, d).select(col("source"), col("text"))))
}
