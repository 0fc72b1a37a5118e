package graft

/** Scratch directories that do not outlive the test using them. */
object TempDirs {

  /** Runs `f` on a fresh temporary directory whose name starts with
    * `prefix`, then deletes the directory, whether `f` returns or throws.
    */
  def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try f(dir.getPath)
    finally graft.sources.FileSources.deleteRecursively(dir)
  }
}
