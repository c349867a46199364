package graft

/** Source-text guards for single-home rules: the `.scala` files under a
  * repository-relative `root`, other than `allowed`, whose text contains
  * `needle`. */
object SourceGuard {
  def offenders(root: String, needle: String, allowed: String): Seq[String] = {
    val dir = new java.io.File(root)
    require(dir.isDirectory, s"run from the repository root: ${dir.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(dir).filter { f =>
      f.getName.endsWith(".scala") && f.getName != allowed && {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.mkString.contains(needle) finally src.close()
      }
    }.map(_.getPath)
  }
}
