package graft

/** Every main-tree Scala source as (file, text), for the source lints. */
object MainSources {
  lazy val all: Seq[(java.io.File, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/main/scala/graft"))
      .map(f => f -> java.nio.file.Files.readString(f.toPath))
  }

  private val defLine = "^\\s*(?:private(?:\\[\\w+\\])?\\s+)?def\\s+(\\w+)".r.unanchored

  /** (file, enclosing def) of every main-tree line containing `token`. */
  def sites(token: String): Seq[(String, String)] =
    all.flatMap { case (f, t) =>
      t.linesIterator.scanLeft(("", "")) { case ((enclosing, _), line) =>
        (line match { case defLine(name) => name; case _ => enclosing }, line)
      }.collect { case (enclosing, line) if line.contains(token) =>
        f.getName -> enclosing }.toSeq
    }
}
