package graft.util

/** Serializes streaming-query starts that PIN session configuration
  * around `.start()` (the RocksDB state-store provider for
  * transformWithState lowerings, `spark.sql.shuffle.partitions` for
  * per-job state sizing — the set/restore pattern of
  * `ChangelogSql.startStream`, the one start every continuous INSERT
  * goes through).
  *
  * Why a lock and not a cloned session: `DataStreamWriter.start()`
  * snapshots the conf of the session the DataFrame is BOUND to, and the
  * front door's frames are assembled against the user session (temp-view
  * shadows, catalog lookups) long before the start call — re-binding a
  * finished plan to `spark.newSession()` would lose those resolutions.
  * SqlGateway runs each operation on its own thread over ONE shared
  * SparkSession, so without serialization a concurrently-starting query
  * could snapshot another query's pinned provider/partition override
  * into its own checkpoint permanently, or a restore could clobber an
  * in-flight pin. Every front-door `.start()` therefore runs under this
  * single JVM-wide lock: the pin, the start (which snapshots the conf
  * synchronously), and the restore are one atomic section. Starts are
  * rare and cheap relative to the streams they launch; the serialization
  * is invisible at any realistic operation rate. */
object StartLock {
  def locked[T](body: => T): T = synchronized(body)
}
