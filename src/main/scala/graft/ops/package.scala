package graft

import org.apache.spark.sql.DataFrame

package object ops {
  /** The landmark BFS (lm, mh, sym) shared by closeness, betweenness,
    * brandes and ecc, keyed by (membership, nLandmarks, maxHop). */
  private[graft] val LandmarkMemo =
    new SessionMemo[(DataFrame, DataFrame, DataFrame)](
      "spark.graft.landmarks.memo")

  /** The co-purchase symmetric edge build shared by labelProp,
    * modularity, louvain and louvain2, keyed by membership. */
  private[graft] val EdgeMemo =
    new SessionMemo[DataFrame]("spark.graft.edges.memo")
}
