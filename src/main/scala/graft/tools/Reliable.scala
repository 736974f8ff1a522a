package graft.tools

import org.apache.spark.sql.DataFrame

/** Lineage truncation with a cluster-survivable option — ONE spelling
  * of the `cp()` discipline for derived state that a loop or sink
  * builds on.
  *
  * `localCheckpoint()` keeps blocks in executor memory — the right
  * local[32] call, but on a cluster a lost executor drops blocks and,
  * since lineage is truncated, nothing can rebuild them: the next job
  * that reads the state fails with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`.
  * Setting `spark.graft.graph.checkpointDir` (an HDFS/S3 path on a
  * real cluster) switches every caller to a RELIABLE checkpoint: the
  * state is written to that storage once and re-read, so block loss
  * re-reads files instead of failing the job.
  *
  * The callers, so the sites the conf covers: the loop state of the
  * iterative kernels (every `graph.Loop` driver, the per-Graph edge
  * tables, LPA's result (one lazy checkpoint; its rounds take none)
  * and the other graph kernels' checkpoints), the streaming
  * ingest sinks' novel sets and the IVF build's centroid table. Not
  * covered: memoized session inputs such as `Graph.derived`'s edge
  * list and `CatalogQueries`' `edgeMemo`/`wprMemo`, the per-Graph
  * `src`-keyed BOTH table of the per-vertex aggregation kernels
  * (`Graph.bothKeyed`, a persisted frame whose lost blocks recompute
  * from lineage), and the one-off `localCheckpoint()`s inside single
  * entries. The parquet round-trip is deliberate (not
  * Dataset.checkpoint, whose unpersisted RDD checkpoint recomputes
  * the plan a second time for the checkpoint job). Files are
  * session-scoped artifacts under the configured dir — the caller
  * deletes the dir after the job, like any Spark checkpoint location.
  */
object Reliable {
  /** JVM-unique sequence for reliable-checkpoint paths — two loops
    * (or loop rounds) must never write the same cp dir. */
  private val cpSeq = new java.util.concurrent.atomic.AtomicLong

  def cp(df: DataFrame): DataFrame = {
    val ss = df.sparkSession
    ss.conf.getOption("spark.graft.graph.checkpointDir") match {
      case Some(dir) if dir.nonEmpty =>
        val p = s"${dir.stripSuffix("/")}/cp-${cpSeq.incrementAndGet()}"
        df.write.mode("overwrite").parquet(p)
        ss.read.parquet(p)
      case _ => df.localCheckpoint()
    }
  }

  /** [[cp]] with the materialization DEFERRED to the caller's own
    * next action — for loop states whose checkpoint is immediately
    * followed by a full-scan scalar action over the same frame (a
    * convergence sum, a row count): eager `localCheckpoint()` runs
    * one job to materialize and then a second job for the scalar,
    * while the lazy form lets the scalar's job compute AND cache the
    * blocks, so each loop cycle costs ONE driver-scheduled job. The
    * caller MUST follow with an action that scans every partition
    * (aggregates and counts do; a limit/take does not) before using
    * the frame as loop state — otherwise the lineage truncation the
    * checkpoint exists for never happens. Under a reliable
    * checkpoint dir the parquet write IS the materialization, so
    * this degrades to [[cp]] unchanged (the fold is a scheduling
    * win, never a semantics change). Iterative kernels get this fold
    * from `graph.Loop`'s drivers, which pair it with their measure;
    * call it directly only where no driver fits. */
  def cpLazy(df: DataFrame): DataFrame = {
    val ss = df.sparkSession
    ss.conf.getOption("spark.graft.graph.checkpointDir") match {
      case Some(dir) if dir.nonEmpty => cp(df)
      case _ => df.localCheckpoint(false)
    }
  }

  /** Total checkpoints taken by this JVM — observability for specs
    * (did a code path actually checkpoint?) without exposing paths. */
  def count: Long = cpSeq.get()

  /** SCOPED checkpoint — [[cp]] whose on-disk artifact is deleted as
    * soon as `body` finishes. The per-micro-batch sinks need exactly
    * this: the checkpointed frame (a novel set) is consumed entirely
    * within the batch, and an UNBOUNDED streaming query calling the
    * caller-managed [[cp]] would leak one cp-N dir per batch forever
    * ("the caller deletes the dir after the job" never comes for a
    * continuous stream). The bounded graph loops keep [[cp]] — their
    * state must outlive the loop body, and their dirs die with the
    * job's checkpoint-dir cleanup. */
  def scoped[A](df: DataFrame)(body: DataFrame => A): A = {
    val ss = df.sparkSession
    ss.conf.getOption("spark.graft.graph.checkpointDir") match {
      case Some(dir) if dir.nonEmpty =>
        val p = s"${dir.stripSuffix("/")}/cp-${cpSeq.incrementAndGet()}"
        df.write.mode("overwrite").parquet(p)
        try body(ss.read.parquet(p))
        finally {
          // Hadoop-FS delete, not java.io: the configured dir is an
          // HDFS/S3 path on a real cluster.
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(ss.sparkContext.hadoopConfiguration)
            .delete(hp, true)
        }
      case _ =>
        val cped = df.localCheckpoint()
        try body(cped)
        finally cped.unpersist()
    }
  }
}
