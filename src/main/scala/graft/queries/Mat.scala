package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** One-shot materialization of a frame that feeds several plan references
  * (repeated-subtree elimination, guide §1.2): a lazy MEMORY_AND_DISK
  * cache with lineage KEPT. The first consumer computes and caches; later
  * consumers read the cache; a lost block silently recomputes from
  * lineage — the fault-tolerant shape for corpus-sized intermediates on a
  * real cluster (guide §5). Also the MEASURED-faster shape at bench scale:
  * it spends no separate materialization job and no lineage-truncating
  * RDD round-trip — the round-18 A/B against `localCheckpoint` over the
  * eight consumer queries (q36/q42/q43/q45/q46/q91/q121/q127) had persist
  * ahead on every one, up to 2× (OPTIMIZATION_r18.md carries the table).
  * The ITERATIVE operators (connected components, PageRank — plan depth
  * must not grow with rounds) call `localCheckpoint` directly.
  *
  * Computed per invocation from the inputs; nothing persists across runs.
  * Cached entries are dropped by Spark's ContextCleaner when the frame
  * goes out of scope.
  */
object Mat {
  def once(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)
}
