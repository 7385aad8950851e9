package graft

/** Grep guard over the main sources, for specs that keep one idiom
  * behind one module. Specs run from the project root.
  */
object SourceGuard {

  /** `path:line` of every line under `src/main/scala` that contains
    * `needle`, outside files whose path ends with one of `allowed`.
    */
  def offenders(needle: String, allowed: String*): Seq[String] = {
    val root = new java.io.File("src/main/scala")
    require(root.isDirectory, s"run from the project root: $root")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(root)
      .filter(f => f.getName.endsWith(".scala") && !allowed.exists(f.getPath.endsWith))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (line, i) if line.contains(needle) => s"${f.getPath}:${i + 1}"
        }.toList
        finally src.close()
      }
  }
}
