package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Session-scoped memo for expensive persisted frames, with one key rule:
  * every entry is keyed by the data it was built from — its `dir` and the
  * fingerprints of its source files there
  * ([[graft.sources.FileSources.sourcesFingerprint]], the source half of
  * every on-disk cache key too) — plus a `tag` naming the frame within
  * that data. Entries of one session sharing `(dir, fingerprints)` form
  * one group and coexist; a lookup first evicts every entry outside its
  * own `(session, group)` and runs the caller's `release` on each. So the
  * memo holds one session's group at a time: a dir switch, a source
  * regenerated at the same dir, and a lookup from another session all
  * release the entries they supersede, and an abandoned session's frames
  * go with the next lookup from any other session instead of staying
  * reachable. Spark's cache manager is shared by a context's sessions, so
  * a stale persisted frame would otherwise answer any session's plan over
  * its path. The frames are persisted, never lineage-truncated, so a
  * stale downstream plan that still references an evicted frame
  * recomputes it instead of failing.
  */
private[queries] final class SessionMemo[V](release: V => Unit) {
  import SessionMemo.Key

  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, Key), V]

  /** The whole check-evict-build sequence runs under one lock (ADVICE
    * r11): without it, two concurrent calls for different groups on the
    * same session could each evict-and-unpersist the frame the other
    * just obtained, or build the same frame twice — the TrieMap only
    * made the individual ops atomic. Contention is irrelevant here
    * (driver-side, a handful of calls per sweep); holding the lock
    * across `build` is deliberate, it is what prevents the double
    * build. Correctness under a lost race was already soft (persisted
    * frames recompute), the lock removes the wasted work too.
    */
  def getOrElseUpdate(spark: SparkSession, dir: String, sources: Seq[String], tag: String)(
      build: => V): V = {
    val key = Key(dir, graft.sources.FileSources.sourcesFingerprint(dir, sources), tag)
    cache.synchronized {
      cache.get((spark, key)) match {
        case Some(v) => v
        case None =>
          cache.keys.toSeq
            .filter { case (s, k) => (s ne spark) || k.group != key.group }
            .foreach(k => cache.remove(k).foreach(release))
          cache.getOrElseUpdate((spark, key), build)
      }
    }
  }

  /** Test hook: live keys for a session. */
  private[queries] def keysFor(spark: SparkSession): Seq[Key] =
    cache.keys.collect { case (s, k) if s eq spark => k }.toSeq
}

private[queries] object SessionMemo {

  /** A memo entry's key: the data it was built from, then its `tag`. */
  final case class Key(dir: String, sourcesFp: String, tag: String) {
    def group: (String, String) = (dir, sourcesFp)
  }
}

/** The one release path of the iterative loops (PageRank, BPE,
  * connected components) for a superseded round materialized by an eager
  * `localCheckpoint` or `checkpoint`: the round's plan is a `LogicalRDD`
  * leaf over the checkpointed RDD, so unpersist that RDD (`Dataset
  * .unpersist` only consults the cache manager, which never saw these
  * blocks) and, when it was reliably checkpointed, delete its checkpoint
  * files. Only safe for frames nothing will touch again: the lineage was
  * truncated, so a released round cannot be recomputed.
  */
private[queries] object Checkpoints {
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }.foreach { rdd =>
      rdd.unpersist(false)
      rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        try p.getFileSystem(rdd.context.hadoopConfiguration).delete(p, true): Unit
        catch { case e: java.io.IOException =>
          // best-effort: a failed delete is residue, never corruption
          System.err.println(s"[checkpoints] failed to delete superseded checkpoint $f: ${e.getMessage}")
        }
      }
    }
}
