package graft.plans

/** Read-only view of [[ManifestRegistry]] for the benchmark's hygiene
  * check: manifests a pass registers must be gone once the pass is.
  */
object PerfbenchRegistry {
  def isEmpty: Boolean = ManifestRegistry.isEmpty
}
