package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

/** Loss-safe filesystem choreography shared by the streaming-registry
  * compactions ([[StreamingEr]], [[StreamingGraph]], [[StreamingCc]]). The failure
  * mode this exists to remove: an in-place compaction that deletes the
  * folded partitions BEFORE its staged base is renamed in has an
  * unrecoverable window — a crash (or a failed rename, whose boolean
  * result the first drafts ignored) between prune and rename loses the
  * entire folded history, because the dot-prefixed staging dir is
  * invisible to partition discovery.
  *
  * The safe order implemented here: park the old `batch_id=-1` base in a
  * dot-prefixed dir, install the staged fold as the new base (rename
  * results CHECKED, parked base restored on failure), only then delete
  * the parked base and prune the folded batch partitions. A crash at any
  * point leaves either (a) the pre-compaction layout, (b) a parked base
  * that [[recover]] renames back on the next maintenance run, or (c) the
  * new base coexisting with not-yet-pruned folded partitions — transient
  * DUPLICATES, which are benign for the latest-per-key / min-label fold
  * semantics every registry uses and disappear on re-compaction. No
  * ordering here can lose folded history.
  */
private[graft] object RegistryFs {

  private def base(dir: Path) = new Path(dir, "batch_id=-1")
  private def parked(dir: Path) = new Path(dir, ".compact-old")
  private[streaming] def staging(dir: Path) = new Path(dir, ".compact-staging")

  /** Repair a previously crashed compaction before reading the registry:
    * a parked base with no installed base means the crash hit between the
    * two renames — put it back. A leftover staging dir is stale (its fold
    * may predate newer batches) and is discarded. */
  def recover(fs: FileSystem, dir: Path): Unit = {
    if (fs.exists(parked(dir)) && !fs.exists(base(dir))) {
      if (!fs.rename(parked(dir), base(dir)))
        throw new IllegalStateException(
          s"compact recovery: could not restore parked base under $dir")
    }
    if (fs.exists(staging(dir))) fs.delete(staging(dir), true)
  }

  /** Install the staged fold at `dir/.compact-staging` as the new
    * `batch_id=-1` base, then prune the folded partitions
    * `0 <= batch_id < upToBatchId`. See the object doc for the crash
    * analysis of each step. */
  def swapBase(fs: FileSystem, dir: Path, upToBatchId: Long): Unit = {
    if (fs.exists(parked(dir))) fs.delete(parked(dir), true)
    val hadBase = fs.exists(base(dir))
    if (hadBase && !fs.rename(base(dir), parked(dir)))
      throw new IllegalStateException(s"compact: could not park old base under $dir")
    if (!fs.rename(staging(dir), base(dir))) {
      if (hadBase) fs.rename(parked(dir), base(dir))
      throw new IllegalStateException(s"compact: could not install staged base under $dir")
    }
    if (hadBase) fs.delete(parked(dir), true)
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("batch_id=")) {
        val id = n.stripPrefix("batch_id=").toLong
        if (id >= 0 && id < upToBatchId) fs.delete(st.getPath, true)
      }
    }
  }
}
