package graft.operators

import org.apache.spark.sql.{DataFrame, GraftCheckpoint}

/** Central eager-materialization point for every operator that truncates
  * lineage: shared intermediates with 3+ consumers (viaSharedScan — g4,
  * g7, y4, e1), the session-shared dedup ladder levels and per-round
  * frames of iterative loops (dedupClusters).
  *
  * Two modes:
  *
  *  - default: a local checkpoint — rows go to executor block storage.
  *    Fast (no columnar conversion, no DFS round-trip) and correct in
  *    local mode, but the truncated lineage means an EXECUTOR LOSS
  *    mid-job makes the frame unrecoverable on a real cluster. Row-format
  *    blocks were also measured faster than `persist()` for these frames
  *    (round 10: e1 2.3 s → 1.1 s, g4 3.7 s → 2.0 s at sf0.1) — the
  *    columnar in-memory cache pays an expensive array/string encoding
  *    that the block store skips. One job per materialization.
  *
  *  - `spark.graft.checkpointDir=<path>`: a reliable checkpoint to a
  *    fault-tolerant filesystem (HDFS/S3). This is the cluster-production
  *    setting: an executor loss re-reads the checkpoint instead of
  *    failing the job. Costs a DFS write per materialization, plus one
  *    read-back job that counts the stored rows; at warehouse scale the
  *    equivalent discipline is persisting the intermediate as a table.
  *
  * In both modes the returned frame's statistics are MEASURED
  * ([[org.apache.spark.sql.GraftCheckpoint]]): its row count and stored
  * bytes, not the size estimate of the plan it replaced. Later steps
  * plan from true sizes — a small level broadcasts, and no runtime
  * filter is injected to prune what is already tiny — and [[counted]]
  * hands the row count to callers that branch on it, so they need no
  * second job to ask Spark.
  */
object Materialize {

  val ConfKey = "spark.graft.checkpointDir"

  /** Materialize `df` NOW (runs a job) and return a frame whose plan is a
    * scan of the stored rows. Honors [[ConfKey]] — see the object doc. */
  def frame(df: DataFrame): DataFrame = counted(df)._1

  /** [[frame]] plus the number of rows the materializing job stored. */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val spark = df.sparkSession
    spark.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        // setCheckpointDir appends a UUID subdir, so compare prefixes to
        // avoid re-setting (and re-creating) it on every materialization
        if (!spark.sparkContext.getCheckpointDir.exists(_.startsWith(dir)))
          spark.sparkContext.setCheckpointDir(dir)
        GraftCheckpoint.checkpoint(df)
      case None =>
        GraftCheckpoint.localCheckpoint(df)
    }
  }
}
