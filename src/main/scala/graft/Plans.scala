package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: the one plan-dump entry point. Three modes:
  *
  *  - `md <sfDir> <outFile>` writes the FORMATTED static physical plan of
  *    the headline queries below into PLANS.md — the "is this the plan
  *    you'd want at 100 TB" evidence artifact next to ScaleShapeSpec's
  *    mechanical assertions. Regenerate after plan-affecting changes.
  *  - `dump <sfDir> <outDir> <suffix> <q1,q2,...>` writes the same
  *    formatted plan for each listed query to `<outDir>/<q>_<suffix>.txt`
  *    (an optimization round's before/after evidence files).
  *  - `exec <sfDir> <query>` runs one query into a noop sink and prints
  *    its final (AQE-resolved) executed plan plus a one-line count of
  *    scans, exchanges, reused exchanges and codegen stages.
  *
  * {{{
  * tools/run.sh graft.Plans md <sfDir> PLANS.md
  * tools/run.sh graft.Plans dump <sfDir> plans/r16 before d5_containment,tpch_q3
  * tools/run.sh graft.Plans exec <sfDir> d5_containment
  * }}}
  */
object Plans {
  private val headline = Seq(
    "a4_hash_agg_q1" -> "TPC-H Q1 shape: pushed scan filter, partial/final hash aggregate",
    "tpch_q3" -> "3-way join: broadcast dims, one fact shuffle",
    "j2_broadcast_dims" -> "star join: every dim a BroadcastHashJoin, fact never shuffles",
    "d5_jaccard_prefix" -> "PPJoin: df-ranked prefix candidates, equi-joins end to end",
    "d6_ivfpq_search" -> "IVF-PQ: probe-pruned lists, broadcast codebook, 20-row rerank",
    "d11_dsir_select" -> "DSIR: one corpus scan, 256-row importance table broadcast back",
    "d2_keywords_tfidf" -> "keyword extraction: postings aggregate, term-type idf join, per-doc rank",
    "d11_epoch_shuffle" -> "epoch shuffle: the shard hash exchange IS the training repartition",
    "t16_psi_drift" -> "PSI monitor: tagging scan vs broadcast scalars, 10-row bucket math",
    "a6_heavy_hitters" -> "two-pass heavy hitters: MG sketch pass + candidate-pruned recount",
    "d5_sorted_neighborhood" -> "SNM: per-block sort window, neighbor pairs as a (blk, rn) equi-join",
    "d5_incremental_lsh" -> "incremental LSH: batch signatures band-equi-joined to the persisted index",
    "j16_band_join_auto" -> "BandJoinRewrite: naive abs-band predicate auto-rewritten to bucket equi-join",
    "g6_label_prop" -> "label propagation: per-round edges-join + vote hash aggregate, no window",
    "a11_assoc_rules" -> "association rules: items materialized once, order-key pair join, broadcast marginals",
    "o5_keyset_page" -> "keyset pagination: cursor predicate pushed to the scan, TakeOrderedAndProject page",
    "t25_gap_fill" -> "gap-fill: (user, day) aggregate left-joined onto the generated grid, per-user windows",
    "d6_cluster_quality" -> "cluster quality: one scan vs the broadcast codebook, per-vector aggregates, k-row rollup",
    "d3_bm25f" -> "BM25F: one weighted-postings aggregate feeds df/dl, term-pruned scoring, top-20 TakeOrdered",
    "g10_local_clustering" -> "local clustering: edge-iterator triple join, corner explode, vertex hash aggregate",
    "a17_mann_whitney" -> "Mann-Whitney: per-value tie counts, range-bucketed PrefixSum (no empty-partition window), 1-row fold",
    "s20_ndv_estimate" -> "Chao1 NDV: sample predicate at the scan, frequency-of-frequencies fold, 1-row calibration join",
    "w13_lorenz" -> "Lorenz/Gini: ExactNtile decile scalar + per-value PrefixSum gini — no corpus-sized window anywhere (the one empty-partition window rides the 10-row decile relation)",
    "d6_ivfpq_persisted" -> "persisted IVF-PQ: index parquet scans for lists/codes, floats only at the 20-row rerank",
    "d7_quantile_norm" -> "quantile norm: grouped PrefixSum per-source ranks (tie windows on (source, score)), pooled CDF via PrefixSum — no window below (group, range-bucket)"
  )

  private val usage =
    "usage: graft.Plans md <sfDir> <outFile> | " +
      "dump <sfDir> <outDir> <suffix> <q1,q2,...> | exec <sfDir> <query>"

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toList match {
      case List("md", sfDir, outFile) => writePlansMd(_, sfDir, outFile)
      case List("dump", sfDir, outDir, suffix, names) =>
        dump(_, sfDir, Paths.get(outDir), suffix,
          names.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case List("exec", sfDir, name) => exec(_, sfDir, name)
      case _ =>
        System.err.println(usage)
        sys.exit(2)
    }
    val spark = Graft.session(appName = "graft-plans")
    try run(spark) finally spark.stop()
  }

  private def writePlansMd(spark: SparkSession, sfDir: String,
      outFile: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.Plans md` against `$sfDir`. What to look for:\n")
    sb.append("`PushedFilters`/`ReadSchema` prove predicate pushdown and column\n")
    sb.append("pruning reach the parquet scan; `BroadcastHashJoin` on every dim\n")
    sb.append("side proves small relations never shuffle the fact table;\n")
    sb.append("`WholeStageCodegen` spans show the hot path stays inside generated\n")
    sb.append("code; `Exchange hashpartitioning` entries are the shuffles a 1000-\n")
    sb.append("executor run pays — each one below is argued at its query's source.\n")
    sb.append("(AQE rewrites these further at runtime: skew splits, demotions,\n")
    sb.append("partition coalescing. ScaleShapeSpec asserts the executed forms.)\n\n")
    headline.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"## $name\n\n$note\n\n```\n")
      sb.append(formatted(df).trim)
      sb.append("\n```\n\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
  }

  private def dump(spark: SparkSession, sfDir: String,
      outDir: java.nio.file.Path, suffix: String, names: Seq[String]): Unit = {
    Files.createDirectories(outDir)
    names.foreach { name =>
      try {
        val text = formatted(SparkEntry.queries(name)(spark, sfDir))
        Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), text)
        println(s"[plans] wrote ${name}_$suffix.txt")
      } catch {
        case NonFatal(e) =>
          println(s"[plans] FAILED $name: ${Graft.failureLine(e)}")
      }
    }
  }

  private def exec(spark: SparkSession, sfDir: String, name: String): Unit = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    println(plan)
    val lines = plan.linesIterator.toSeq
    println("summary: scans=" + lines.count(_.contains("Scan parquet")) +
      " reusedExchanges=" + lines.count(_.contains("ReusedExchange")) +
      " exchanges=" + lines.count(l => l.contains("Exchange") && !l.contains("Reused")) +
      " wscg=" + lines.count(_.contains("WholeStageCodegen")))
  }
}
