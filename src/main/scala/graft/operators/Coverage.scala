package graft.operators

import graft.functions.Text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Greedy maximum-coverage data selection (the classic (1 − 1/e)
  * submodular greedy — Nemhauser et al. 1978, the budgeted corpus-
  * selection shape of Lin & Bilmes, ACL 2011): pick the document whose
  * DISTINCT shingles cover the most not-yet-covered corpus shingles,
  * mark them covered, repeat K rounds. The "most diverse K documents"
  * selector a curation pipeline runs to seed an eval set or prune a
  * crawl to a coverage budget — the complement of [[Dedup]] (which
  * removes redundancy pairwise, while this SELECTS for marginal
  * novelty).
  *
  * ## Determinism / oracle
  * Ties break by `(gain desc, doc_id asc)` — a total order — and the
  * shingle universe is the md5-hashed 60-bit key space shared with the
  * dedup family, so a DuckDB oracle replaying the identical K rounds
  * (generated CTEs, the q163 pattern) hash-matches exactly.
  *
  * ## Scale shape (100 TB)
  * The doc×shingle incidence table is built ONCE (distinct, hashed
  * 8-byte keys) and repartitioned on the shingle key; each round is one
  * anti-join against the covered set (same key layout), one
  * partial-aggregable per-doc count, and a 1-row winner collect (the
  * selection IS the model); the incidence table is cut once, and round
  * r's plan is that cut table with one anti-join per earlier winner
  * (each against the winner's rows of the same cut table). Nothing quadratic, no
  * per-doc windows, text never shuffles (keys only). Winner gain = 0 is
  * impossible by construction (a fully-covered doc has no surviving
  * incidence rows), so the loop stops early when coverage saturates. */
object Coverage {

  /** Select `rounds` documents greedily. Returns
    * `(round, doc_id, gain, covered_total)` — gain = newly covered
    * shingles, covered_total = cumulative distinct shingles covered. */
  def maxCoverageSelect(spark: SparkSession, docs: DataFrame, idCol: String,
                        textCol: String, shingleLen: Int, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(shingleLen >= 1, s"shingleLen must be >= 1, got $shingleLen")
    // materialize the incidence table ONCE, eagerly: every round's gain
    // aggregation (and every winner's shingle set) reads it; the eager
    // cut replaces the old lazy persist + per-round checkpoint chain —
    // per round the only job is now the 1-row winner collect (r13: the
    // round's per-iteration localCheckpoint barriers measured as the
    // dominant cost of the iterative family at gate scale)
    val incidence = Lineage.cut(docs
      .select(col(idCol).as("_doc"),
        explode(Text.fastWordShingles(col(textCol), shingleLen)).as("_s"))
      .select(col("_doc"), Dedup.shingleKey(col("_s")).as("_sh"))
      .distinct()
      .repartition(col("_sh")))
    // remaining_r = incidence anti-join the winners' FULL shingle sets:
    // equivalent to the old "subtract only the uncovered subset" chain
    // (already-removed keys anti-join as no-ops), but each winner's set
    // filters the CACHED incidence directly — no recursive lineage, no
    // per-round materialization
    var remaining = incidence
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var covered = 0L
    var r = 1
    var dry = false
    while (r <= rounds && !dry) {
      val top = remaining
        .groupBy(col("_doc")).agg(count(lit(1)).as("_gain"))
        .orderBy(col("_gain").desc, col("_doc"))
        .limit(1)
        .collect() // 1 row — the selection is the model
      if (top.isEmpty) dry = true
      else {
        val doc = top(0).getLong(0)
        val gain = top(0).getLong(1)
        covered += gain
        picks += ((r.toLong, doc, gain, covered))
        val won = incidence.where(col("_doc") === doc).select(col("_sh"))
        remaining = remaining.join(won, Seq("_sh"), "left_anti")
        r += 1
      }
    }
    import spark.implicits._
    picks.toSeq.toDF("round", "doc_id", "gain", "covered_total")
  }
}
