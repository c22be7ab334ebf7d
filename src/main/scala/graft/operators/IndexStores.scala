package graft.operators

import org.apache.spark.sql.graftext.TempDirs

/** Per-JVM memoization of at-rest index-store builds — THE one home of
  * the contract the four stored-probe families (p41 IVF cells, p100
  * video frames, p110 audio segments, p111 text LSH signatures) share:
  * the first invocation for a dataset pays the one-pass store build
  * into a fresh directory (no cross-dataset collisions, no races
  * between harness JVMs), every later probe reads the steady-state
  * pruned layout — exactly what a deployed index serves. Every store
  * directory sits under one per-JVM root in `java.io.tmpdir` that is
  * deleted with its contents at JVM exit; a build that throws deletes
  * its own directory at once.
  *
  * Staleness assumption, deliberate and shared: the cache keys on the
  * dataset DIRECTORY, so regenerating that directory's contents within
  * one JVM session would answer probes from the stale store. That is
  * the bench-harness contract — test datasets are immutable per
  * session; a long-lived service would key the memo on a content
  * fingerprint (e.g. the source files' (path, mtime, size) digest) and
  * evict on mismatch.
  */
private[graft] object IndexStores {

  private val stores =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  private lazy val root = TempDirs.deletedAtExit("graft_stores").toPath

  /** The store path for (`family`, `datasetDir`), building it via
    * `build(dir)` on first use. `family` names the index kind (also the
    * directory prefix), so one dataset can carry several stores
    * without collisions.
    */
  def of(family: String, datasetDir: String)(build: String => Unit): String =
    stores.computeIfAbsent((family, datasetDir), _ => {
      val dir = java.nio.file.Files
        .createTempDirectory(root, s"graft_${family}_").toFile
      try build(dir.toString)
      catch { case e: Throwable => TempDirs.deleteRecursively(dir); throw e }
      dir.toString
    })
}
