package graft

import java.nio.file.{Files, Path, Paths}

/** The checkout this code runs from, worked out rather than configured:
  * the first directory holding `fixtures/` on the way up from where the
  * engine's classes were loaded (`target/scala-2.13/classes` under sbt
  * and `tools/run.sh`, the harness's own `target/` under `perfbench/`),
  * then from the working directory. A copy of the repo at any path
  * therefore reads its own fixtures, and the oracle SQL text names the
  * same files, so DuckDB reads them too.
  */
object Repo {

  /** Falls back to the working directory when no ancestor holds
    * `fixtures/`: a fixture read then fails naming the missing path. */
  lazy val root: Path = {
    val codeDir = Option(getClass.getProtectionDomain.getCodeSource)
      .map(cs => Paths.get(cs.getLocation.toURI))
    val cwd = Paths.get("").toAbsolutePath
    (codeDir.toSeq :+ cwd).iterator
      .flatMap(start => Iterator.iterate(start.toAbsolutePath.normalize)(_.getParent)
        .takeWhile(_ != null))
      .find(dir => Files.isDirectory(dir.resolve("fixtures")))
      .getOrElse(cwd)
  }

  /** Absolute path of a committed fixture file, e.g.
    * `fixture("ivf_centroids.parquet")`. */
  def fixture(name: String): String = root.resolve("fixtures").resolve(name).toString
}
