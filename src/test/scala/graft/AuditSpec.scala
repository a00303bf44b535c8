package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Self-verifying engineering audits. The `localCheckpoint` audit note in
  * BASELINE.md was hand-counted wrong two rounds running (~26 vs 60, then
  * 55+2 vs 60), so the table is now machine-readable (the
  * `AUDIT:localCheckpoint` block) and this spec recounts the truth from
  * source: the note and the code may not disagree. Every NEW call site
  * therefore forces a conscious table edit — i.e. a written justification
  * under class (a) multi-consumed corpus relation or (b) iterative lineage
  * cut — before the build goes green again.
  */
class AuditSpec extends AnyFunSuite {

  private val repo = Repo.root

  private def scalaFiles(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq

  /** Non-comment `Materialize.cut` call sites per file as
    * (nShared, nIter), keyed by the path relative to
    * `src/main/scala/graft/`.
    */
  private def sourceCounts(): Map[String, (Int, Int, Int)] = {
    val root = repo.resolve("src/main/scala/graft")
    scalaFiles(root).flatMap { p =>
      val code = Files.readAllLines(p).asScala.iterator
        .map(_.trim)
        .filterNot(s => s.startsWith("//") || s.startsWith("*") || s.startsWith("/*"))
        .toSeq
      val nS = code.map(s => "\\.cut\\(Shared\\)".r.findAllIn(s).length).sum
      val nI = code.map(s => "\\.cut\\(Iter\\)".r.findAllIn(s).length).sum
      val nB = code.map(s => "\\.cut\\(Barrier\\)".r.findAllIn(s).length).sum
      if (nS + nI + nB > 0)
        Some(root.relativize(p).toString -> (nS, nI, nB))
      else None
    }.toMap
  }

  private def auditedCounts(): Map[String, (Int, Int, Int)] = {
    val text = new String(Files.readAllBytes(repo.resolve("BASELINE.md")), "UTF-8")
    val block = text.split("<!-- AUDIT:materialize")(1).split("AUDIT:end")(0)
    block.linesIterator.map(_.trim).filter(_.nonEmpty).map { line =>
      // `file Na Nb [Nc]` — the c column (Barrier, self-overwriting
      // write sites) is optional and defaults to 0
      val parts = line.split("\\s+")
      val (file, s, i) = (parts(0), parts(1), parts(2))
      val c = parts.lift(3).getOrElse("0c")
      require(s.endsWith("a") && i.endsWith("b") && c.endsWith("c"),
        s"$file: bad row '$line'")
      file -> (s.dropRight(1).toInt, i.dropRight(1).toInt,
        c.dropRight(1).toInt)
    }.toMap
  }

  test("BASELINE.md materialization audit table matches the source exactly") {
    val truth = sourceCounts()
    val note = auditedCounts()
    val missing = truth.keySet -- note.keySet
    val stale = note.keySet -- truth.keySet
    val wrong = truth.keySet.intersect(note.keySet)
      .filter(k => truth(k) != note(k))
      .map(k => s"$k: source ${truth(k)} vs table ${note(k)}")
    assert(missing.isEmpty && stale.isEmpty && wrong.isEmpty,
      s"""Materialize.cut audit drift —
         |  uncounted files: ${missing.toSeq.sorted.mkString(", ")}
         |  stale table rows: ${stale.toSeq.sorted.mkString(", ")}
         |  wrong counts: ${wrong.toSeq.sorted.mkString("; ")}
         |Update the AUDIT:materialize block in BASELINE.md WITH a class
         |Shared=(a)/Iter=(b)/Barrier=(c) count for each new site
         |(DEPLOY.md §2).""".stripMargin)
  }

  test("raw localCheckpoint appears only inside Materialize itself") {
    // every cut must route through Materialize.cut so the
    // SPARK_GRAFT_RELIABLE swap covers it — a stray localCheckpoint()
    // would silently stay executor-local on a cluster
    val root = repo.resolve("src/main/scala/graft")
    val offenders = scalaFiles(root)
      .filterNot(_.getFileName.toString == "Materialize.scala")
      .filter { p =>
        Files.readAllLines(p).asScala.iterator
          .map(_.trim)
          .filterNot(s => s.startsWith("//") || s.startsWith("*") || s.startsWith("/*"))
          .exists(s => "\\.localCheckpoint\\(".r.findAllIn(s).nonEmpty)
      }
    assert(offenders.isEmpty,
      s"raw .localCheckpoint( outside Materialize (use .cut(Shared|Iter)): $offenders")
  }

  test("freeze_digests.tsv matches every query implementation (stale-freeze guard)") {
    // the BASELINE.md freeze table prices PLANS; when a query's
    // implementation changes, its frozen row may price a plan that no
    // longer exists (the t23 class). The committed digest file pins the
    // implementation each freeze was taken against: any drift fails here
    // until `tools/run.sh graft.FreezeDigests > freeze_digests.tsv` is
    // re-run — the conscious moment to RE-FREEZE the affected rows (or
    // note in BASELINE.md why the old number still prices the new code).
    val computed = graft.FreezeDigests.digests(repo.resolve("src/main/scala/graft"))
    val storedPath = repo.resolve("freeze_digests.tsv")
    assert(Files.exists(storedPath), "freeze_digests.tsv missing — generate it")
    val stored = Files.readAllLines(storedPath).asScala
      .filter(_.nonEmpty).map { l =>
        val Array(n, d) = l.split("\t"); n -> d
      }.toMap
    val changed = computed.keySet.intersect(stored.keySet)
      .filter(k => computed(k) != stored(k)).toSeq.sorted
    val added = (computed.keySet -- stored.keySet).toSeq.sorted
    val removed = (stored.keySet -- computed.keySet).toSeq.sorted
    assert(changed.isEmpty && added.isEmpty && removed.isEmpty,
      s"""query implementations drifted from their freeze digests —
         |  changed: ${changed.mkString(", ")}
         |  new (never frozen/digested): ${added.mkString(", ")}
         |  removed (stale digest rows): ${removed.mkString(", ")}
         |Re-freeze the affected BASELINE.md rows (idle medians, round-9
         |methodology) or record why the frozen number still holds, then
         |regenerate: tools/run.sh graft.FreezeDigests > freeze_digests.tsv""".stripMargin)
    // and the digest surface is the whole registry — no query escapes
    val registry = graft.SparkEntry.queries.keySet
    val undigested = (registry -- computed.keySet).toSeq.sorted
    assert(undigested.isEmpty,
      s"queries with no digest (Q-block not found): ${undigested.mkString(", ")}")
  }

  test("helper-file edits re-digest the queries that reference them") {
    // the round-10 gap, demonstrated closed: the PPJoin+ edit to
    // Dedup.scala re-priced d5_jaccard_prefix without tripping the old
    // Q-block-only digest. Simulate exactly that edit class on a copy
    // of the tree: ANY change to Dedup.scala must change the digest of
    // every query referencing Dedup, and no unrelated query's.
    val root = repo.resolve("src/main/scala/graft")
    val tmp = Files.createTempDirectory("graft_fd")
    scalaFiles(root).foreach { p =>
      val dest = tmp.resolve(root.relativize(p).toString)
      Files.createDirectories(dest.getParent)
      Files.copy(p, dest)
    }
    val before = graft.FreezeDigests.digests(tmp)
    val dedup = tmp.resolve("dedup/Dedup.scala")
    Files.writeString(dedup,
      new String(Files.readAllBytes(dedup), "UTF-8") + "\n// helper edit\n")
    val after = graft.FreezeDigests.digests(tmp)
    assert(before("d5_jaccard_prefix") != after("d5_jaccard_prefix"),
      "a Dedup.scala edit no longer trips the d5_jaccard_prefix digest")
    assert(before("d5_minhash_pairs") != after("d5_minhash_pairs"))
    // an unrelated query (no Dedup reference) keeps its digest
    assert(before("w2_ntile") == after("w2_ntile"))
    assert(before("tpch_q12") == after("tpch_q12"))
  }

  test("no unjustified driver materialization outside the audited files") {
    // raw .checkpoint() must also route through Materialize.cut(Iter):
    // the reliable path needs the checkpoint-dir bootstrap and the audit
    val root = repo.resolve("src/main/scala/graft")
    val offenders = scalaFiles(root)
      .filterNot(_.getFileName.toString == "Materialize.scala")
      .filter { p =>
        Files.readAllLines(p).asScala.iterator
          .map(_.trim)
          .filterNot(s => s.startsWith("//") || s.startsWith("*") || s.startsWith("/*"))
          .exists(s => s.contains(".checkpoint()"))
      }
    assert(offenders.isEmpty,
      s"raw .checkpoint() in main (use Materialize.cut(Iter)): $offenders")
  }
}
