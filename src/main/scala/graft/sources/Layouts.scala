package graft.sources

import java.io.File

/** The ONE owner of graft's lazily derived `/tmp` layouts. The
  * reference engine owns its storage (TiKV / TiFlash); on a lake the
  * physical layouts — partitioned facts, ANN indexes, time-travel
  * versions, the MV, corpus fingerprints, DML working copies — are
  * derived on first touch instead. Two decisions live here and
  * nowhere else:
  *   - [[root]]: where a layout lives and what keys it;
  *   - [[once]]: the build-once protocol (staging dir, one marker,
  *     rename into place).
  *
  * Root names are a contract with outside tooling: benchmark cleanup
  * and disk accounting find a dataset's layouts by the `graft_`
  * prefix plus [[Formats.sanitize]] of its data dir.
  */
object Layouts {

  /** Written last into a finished layout; its presence means "built".
    * The same name Spark's committer writes, so a layout written by
    * one overwrite at its root stays marked after a rewrite in place. */
  private val Marker = "_SUCCESS"

  /** `/tmp/graft_<family>_<sanitize(dataDir)>`. The family carries
    * the build parameters. With `keyedBy` source paths the name also
    * gets `_<fp>`, the concatenated [[Formats.contentFingerprint]]s
    * of those paths, so regenerated source data gets a fresh layout.
    * Stale `_<oldfp>` siblings (and their staging dirs) are evicted
    * first, or every regeneration would leave a full previous copy in
    * /tmp; of the current layout's staging dirs only those of dead
    * builders go. Other families and other data dirs are never
    * touched: their identity is in the prefix, not the suffix. */
  def root(family: String, dataDir: String, keyedBy: String*): String = {
    val prefix = s"/tmp/graft_${family}_${Formats.sanitize(dataDir)}"
    if (keyedBy.isEmpty) prefix
    else {
      val current =
        s"${prefix}_${keyedBy.map(Formats.contentFingerprint).mkString}"
      evict(p => p.startsWith(prefix + "_") && p != current &&
        !liveStaging(p, current))
      current
    }
  }

  /** Build the layout at `root` once: `build` writes into a fresh
    * staging dir, the marker goes in last, and the dir is renamed into
    * place. Skipped entirely while the marker is there. A build that
    * throws never touches `root`, so the next call rebuilds, and the
    * staging dir a killed builder left is evicted by the next build.
    * A layout already marked when this build finishes is kept, and
    * this builder discards its copy. Only an unmarked dir at `root`
    * (half-built, or from before the marker) is deleted to make way;
    * two builders that both find one there race, and the last rename
    * stays. Returns `root`. */
  def once(root: String)(build: String => Unit): String = {
    val dest = new File(root)
    def built = new File(dest, Marker).exists()
    if (!built) {
      evict(p => p.startsWith(s"$root.staging-") && !liveStaging(p, root))
      val staging = new File(s"$root.staging-${ProcessHandle.current().pid()}")
      Formats.deleteRecursively(staging)
      staging.mkdirs()
      try {
        build(staging.getPath)
        new File(staging, Marker).createNewFile()
        if (!staging.renameTo(dest) && !built) {
          Formats.deleteRecursively(dest)
          staging.renameTo(dest)
        }
      } finally Formats.deleteRecursively(staging)
      require(built, s"layout build did not land at $root")
    }
    root
  }

  /** `<root>.staging-<pid>` of a running process: a build in flight. */
  private def liveStaging(path: String, root: String): Boolean =
    path.startsWith(s"$root.staging-") &&
      path.stripPrefix(s"$root.staging-").toLongOption
        .exists(ProcessHandle.of(_).isPresent)

  /** Delete every top-level /tmp entry whose path is `doomed`. */
  private def evict(doomed: String => Boolean): Unit =
    Option(new File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => doomed(f.getPath))
      .foreach(Formats.deleteRecursively)
}
