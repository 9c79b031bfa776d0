package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.Dataset

/** Bridge to the `private[sql]` builder behind a CacheManager entry, for
  * the same access-scope reason as [[ColumnBridge]].
  */
object CacheBridge {

  /** For a cached `df`: a call that drops whatever blocks its entry's
    * builder holds now. The builder outlives the entry in plans that
    * were cache-substituted before it was removed, and such a plan
    * persists a fresh RDD through it when it runs; the call frees that
    * RDD too. `None` when `df` is not cached.
    */
  def clearer(df: DataFrame): Option[() => Unit] = df match {
    case d: Dataset[_] =>
      d.sparkSession.sharedState.cacheManager.lookupCachedData(d).map { cd =>
        val builder = cd.cachedRepresentation.cacheBuilder
        () => builder.clearCache(false)
      }
    case _ => None
  }
}
