package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** The one lineage-cut policy: how an intermediate that fans out into
  * several downstream reads, or an iterative operator's per-round vector,
  * is materialized. The tradeoff is recompute cost vs fault tolerance at
  * cluster scale:
  *
  *  - [[Materialize.Off]]: no materialization. Within a SINGLE action
  *    Spark already dedupes identical subplans via exchange reuse, so this
  *    is often free for simple fan-outs — but branches that prune
  *    different columns (near-dedup's signature vs gram vs anti-join
  *    reads) plan different exchanges and recompute the full upstream.
  *  - [[Materialize.Local]]: eager `localCheckpoint` — fastest, but blocks
  *    live unreplicated on executors with lineage truncated: one lost
  *    executor (spot preemption, dynamic allocation) makes the job
  *    unrecoverable. Single-machine / stable-executor use.
  *  - [[Materialize.Disk]]: DISK_ONLY persisted copy of the internal rows
  *    with lineage KEPT ([[Bridge.persistedCopy]]) — a block lost with its
  *    executor is recomputed from lineage instead of failing the job.
  *    `curate`'s cluster-safe default.
  *  - [[Materialize.Reliable]]: spill as parquet under the given (HDFS at
  *    scale) directory and read it back — survives executor loss without
  *    any recompute, and honors the requested directory regardless of any
  *    SparkContext checkpoint state.
  *
  * Every cut returns a [[Materialize.Cut]] handle. Reliable writes each
  * cut to its own unique path, so runs sharing a directory (sequential or
  * concurrent) never touch each other's files, and the handle's `release`
  * deletes that path; Disk's frees the persisted blocks; Local and Off
  * release nothing. A cut that is never released keeps backing its frame
  * — the caller owns the directory's lifecycle.
  *
  * Iterative operators ([[graft.operators.PageRank]], `Hits`, `KCore`,
  * `Reachability`, `ShortestPaths`, `Dedup.dupClusters`) MUST truncate
  * lineage every round, so they take the [[Checkpointing]] subtype. They
  * release each round's cut once nothing reads it any more, so after a
  * Reliable run the directory holds only the files behind the returned
  * frame. Result rows are identical under every policy (spec-pinned): a
  * cut only materializes, it never reorders or rounds.
  */
sealed trait Materialize {

  /** Apply this policy to `df`; `tag` names the cut in plan taps and
    * Reliable file names.
    */
  private[graft] def cut(df: DataFrame, tag: String): Materialize.Cut = {
    if (this != Materialize.Off) graft.plans.PlanTap.record(s"cut:$tag", df)
    this match {
      case Materialize.Off => new Materialize.Cut(df)
      case Materialize.Local => new Materialize.Cut(df.localCheckpoint())
      case Materialize.Disk =>
        val p = Bridge.persistedCopy(df, StorageLevel.DISK_ONLY)
        new Materialize.Cut(p.df, () => p.release())
      case Materialize.Reliable(dir) =>
        val path = new Path(dir, s"$tag-${java.util.UUID.randomUUID()}")
        df.write.parquet(path.toString)
        val fs = path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        new Materialize.Cut(df.sparkSession.read.parquet(path.toString),
          () => fs.delete(path, true))
    }
  }

  /** [[cut]] for operators whose semantics REQUIRE materialization
    * before return — a snapshot taken before registries append, or a
    * result whose upstream persists are released on return. Off upgrades
    * to Local (a lazy frame would re-read post-append registry state or
    * recompute released skeletons), and Disk's lazy persist is forced so
    * the blocks exist before any release runs.
    */
  private[graft] def cutEager(df: DataFrame, tag: String): Materialize.Cut =
    this match {
      case Materialize.Off => Materialize.Local.cut(df, tag)
      case Materialize.Disk =>
        val out = cut(df, tag)
        out.df.count()
        out
      case _ => cut(df, tag)
    }
}

/** The lineage-truncating policies — the only ones an iterative operator
  * accepts, since an uncut round chain grows plan depth per iteration.
  */
sealed trait Checkpointing extends Materialize

object Materialize {
  case object Off extends Materialize
  case object Local extends Checkpointing
  case object Disk extends Materialize
  final case class Reliable(dir: String) extends Checkpointing

  /** One cut: the materialized frame, and the release of whatever backs
    * it (the shape of [[Bridge.Persisted]]). Release only once nothing
    * reads `df` any more.
    */
  final class Cut private[graft] (val df: DataFrame,
                                  onRelease: () => Unit = () => ()) {
    def release(): Unit = onRelease()
  }
}
