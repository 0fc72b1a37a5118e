package graft.queries

import org.apache.spark.sql.SparkSession

/** The one set-and-restore path for session confs (code-review r13 #4):
  * every scoped conf goes through [[withConfs]], so the restore-Some /
  * unset-None branch lives in one place. Callers: [[StreamRun]] (event
  * read confs, state width, state-store provider and no-data batches of
  * every streaming run), Graph's PageRank loop and TextOps' BPE loop
  * (shuffle width), Dedup's connected-components loop (shuffle width),
  * Relational (runtime-filter and ndv confs) and Events' variant-shred row.
  */
object Confs {

  /** Set `confs` for the duration of an EAGERLY-executed `body`, then
    * restore each key to its previous value (unset where previously
    * unset). Callers must finish execution inside the body — a lazily
    * evaluated frame returned from it would run under the RESTORED confs
    * (the runtime_filter lesson: execute inside the scope, return a
    * literal frame). The prior state is read from `getAll` (explicitly
    * set keys only): `getOption` answers a key's DEFAULT when it is unset,
    * which would "restore" an unset key as an explicit setting.
    */
  private[graft] def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
