package graft.operators

import org.apache.spark.sql.DataFrame

/** The lineage cut shared by the iterative operators
  * ([[Dedup.connectedComponentsWithRounds]], [[Hierarchy.rootAndDepth]],
  * [[Graph.bfsDistance]]): `localCheckpoint` by default (executor-resident,
  * fastest single-node), or with a `checkpointDir` a parquet round-trip
  * into reliable storage, so a lost executor replays from the store
  * instead of recomputing the whole iteration. Each cut writes its own
  * subdir `<dir>/<tag>_cut_<n>`; the caller owns the directory. */
private[operators] object LineageCut {
  def apply(checkpointDir: Option[String], tag: String): DataFrame => DataFrame =
    checkpointDir match {
      case Some(dir) =>
        var cutSeq = 0
        df => {
          val path = s"$dir/${tag}_cut_$cutSeq"
          cutSeq += 1
          df.write.mode("overwrite").parquet(path)
          df.sparkSession.read.parquet(path)
        }
      case None => _.localCheckpoint()
    }
}
