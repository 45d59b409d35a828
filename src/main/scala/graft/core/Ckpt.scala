package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.storage.StorageLevel

/** Deployment-aware lineage cutting.
  *
  * The iterative plans (PageRank, HITS, k-core, SCC, BFS, the triangle
  * family, CC merge loops…) cut lineage every round with
  * `localCheckpoint` — the right call for iteration (no reliable-FS
  * round trip), but its blocks live ONLY on the executors that computed
  * them and the lineage is truncated, so on a multi-executor master a
  * single executor death strands every in-flight consumer:
  * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`, job dead, no retry possible.
  * Measured, not hypothetical — the r13 executor-kill stress reproduced
  * exactly that on g52 (HITS) under `local-cluster[2,4,2048]`.
  *
  * `lckpt` is the drop-in replacement every engine call site uses: on a
  * single-JVM master (`local[N]` — the bench rig) it is byte-identical
  * to `localCheckpoint`'s default `MEMORY_AND_DISK`, so committed
  * numbers don't move; on any multi-executor master (`local-cluster`,
  * `spark://`, `yarn`, `k8s`) it persists the checkpoint blocks at
  * `MEMORY_AND_DISK_2` — one replica on a second executor — so losing
  * any single executor leaves every checkpoint partition readable and
  * the query completes through ordinary task retry. Replica cost is
  * paid only where the failure mode exists; a 1000-executor deployment
  * runs hot enough executor churn that unreplicated local checkpoints
  * are simply wrong there.
  */
object Ckpt {

  private[core] def singleJvm(master: String): Boolean =
    master == "local" || master.startsWith("local[")

  /** A/B hook for the executor-kill harness: forces the unreplicated
    * pre-fix level on a cluster master, so the kill sweep can show the
    * failure the replica exists to prevent (and its absence with it).
    */
  private def forceNoReplica: Boolean =
    sys.env.get("SPARK_GRAFT_CKPT_NO_REPLICA").contains("1")

  /** Replicated and DISK-RESIDENT on cluster masters. The level was
    * tuned by failure, twice, on the r13 memory-pressure rig (sf1.0,
    * 2 GiB executors):
    *
    *  - `MEMORY_AND_DISK_2` (deserialized): replication serializes each
    *    block at SEND time — a full-block allocation spike on top of
    *    the deserialized copy. Executors OOMed inside
    *    `BlockManager.replicate`.
    *  - `MEMORY_AND_DISK_SER_2`: the sender ships stored bytes, but the
    *    RECEIVER of a streamed replica (`TempFileBasedBlockStoreUpdater`)
    *    reads the temp file back into one contiguous ByteBuffer whenever
    *    the level wants memory — a 75 MB block on a pressured heap, OOM
    *    again.
    *
    * `DISK_ONLY_2` closes both: the write path serializes straight to
    * local disk (no block-sized heap residency), replication streams
    * file-to-file (past [[Masters]]' 8 MB threshold the receiver just
    * MOVES the temp file — zero allocation), and survivability is
    * unchanged. Checkpoint blocks are lineage-cut durability artifacts,
    * not hot caches: they are written once and read a round later, the
    * OS page cache serves that re-read at memory speed on any healthy
    * executor, and under real pressure a memory-tiered level would have
    * evicted to disk anyway — this just stops them competing with
    * execution memory for heap, which is what UNABLE_TO_ACQUIRE_MEMORY
    * task deaths were the symptom of.
    */
  def level(ds: Dataset[_]): StorageLevel =
    levelFor(ds.sparkSession.sparkContext.master, forceNoReplica)

  /** Pure master-string → level resolution, split out so the spec can
    * pin CONCRETE levels per known master (and per A/B override state)
    * without depending on the suite's own live master or env.
    */
  private[core] def levelFor(master: String, noReplica: Boolean): StorageLevel =
    if (singleJvm(master) || noReplica) StorageLevel.MEMORY_AND_DISK
    else StorageLevel.DISK_ONLY_2

  implicit class DatasetCkptOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** `localCheckpoint` with the deployment-resolved storage level. */
    def lckpt(eager: Boolean = true): Dataset[T] =
      ds.localCheckpoint(eager, level(ds))

    /** The iterative loops' partition-preserving checkpoint: rows
      * hash-partitioned by `keys` into the session's
      * `spark.sql.shuffle.partitions` (read now), sorted by `keys` within
      * each partition, then `lckpt`. A checkpoint leaf built under AQE
      * reports `UnknownPartitioning(0)`, so every later join on `keys`
      * would re-shuffle and re-sort it; the leaf is rebuilt to claim the
      * layout it really has, and such joins plan no Exchange and no Sort
      * on this side. Spark never checks the claim, so it is made only
      * here, right after our own `repartition(n, keys)` (`KeyedCkptSpec`
      * checks every row's partition). AQE never coalesces that shuffle,
      * and when the child already has the layout the planner drops the
      * repartition and the sort, so keying a round result that a join
      * on `keys` produced costs nothing.
      */
    def keyedLckpt(keys: Seq[String], eager: Boolean = true): Dataset[T] = {
      val n = ds.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      val cols = keys.map(col)
      CatalystBridge.claimHashPartitioned(
        ds.repartition(n, cols: _*).sortWithinPartitions(cols: _*).lckpt(eager), keys, n)
    }
  }
}
