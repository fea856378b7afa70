package graft.sources

import java.nio.file.{Files, Paths}

/** The `commit-<n>` claims of a local table root, read and planted the
  * way the engine writes them: a merge claim's content is the manifest
  * it commits; a snapshot claim's is a format-version line, then the
  * version dir it commits. */
object Claims {
  private def numbers(dir: String): Seq[Long] =
    Option(new java.io.File(dir).list()).toSeq.flatten.filter(_.startsWith("commit-"))
      .map(_.stripPrefix("commit-").takeWhile(_.isDigit).toLong)

  /** The highest claim's number: the committed version (0 for none). */
  def top(dir: String): Long = numbers(dir).maxOption.getOrElse(0L)

  /** What claim `n` names: a manifest, or a snapshot version dir. */
  def named(dir: String, n: Long): String =
    Files.readString(Paths.get(dir, f"commit-$n%012d")).trim.split("\n").last.trim

  /** What the highest claim names: the table's live state. */
  def live(dir: String): String = named(dir, top(dir))

  /** Writes claim `n` with `content` in place. */
  def plant(dir: String, n: Long, content: String): Unit =
    Files.write(Paths.get(dir, f"commit-$n%012d"), content.getBytes("UTF-8")): Unit

  /** A snapshot claim's content, committing version dir `vdir`. */
  def snapshot(vdir: String): String = s"version\t1\n$vdir"
}
