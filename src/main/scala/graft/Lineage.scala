package graft

import org.apache.spark.sql.Dataset

/** Eager lineage truncation: a reliable checkpoint when a checkpoint dir
  * is configured (the cluster deployment, survives executor loss),
  * localCheckpoint otherwise. The engine's one copy of the idiom: the
  * ledgers' `append` and `CorpusIngest.ingest` seal a frame before a
  * store mutates (the refreshByPath lesson those sites document); the
  * iterative loops (`duplicateClusters`, BPE merge batches, sharded
  * codebook rounds) bound their lineage. */
object Lineage {
  def truncated[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined)
      ds.checkpoint(eager = true)
    else ds.localCheckpoint(eager = true)
}
