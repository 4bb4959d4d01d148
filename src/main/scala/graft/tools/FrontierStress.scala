package graft.tools

import graft.operators.Dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pathological-component stress for the frontier label propagation
  * (Dedup.connectedComponents): real near-dup graphs have tiny dense
  * components (the sf1 suite converges in 2-4 rounds), so the frontier
  * design's worst cases never show up there. This tool plants them at
  * sf1-like edge volume and records rounds + wall-time:
  *
  *  - BACKGROUND: `nBackground` disjoint pair components — the realistic
  *    bulk (round 1 collapses all of them; they exist so the edge list is
  *    sf1-sized, not so they iterate).
  *  - CHAIN: one path of `chainLen` edges with the minimum id at one END —
  *    the max-diameter worst case: the label walks one hop per round, so
  *    rounds ≈ chainLen (+1 to observe the empty frontier). Bounded by
  *    maxIterations, which is the documented contract.
  *  - STAR: one hub with `starSpokes` spokes where the component minimum
  *    sits on a SPOKE and the hub id is the component max — the
  *    big-frontier worst case: round 1 improves only the hub, round 2
  *    improves every spoke at once (frontier ≈ component size), round 3+
  *    drains. Exercises the frontier join at its widest.
  *
  * Usage: runMain graft.tools.FrontierStress [nBackground] [chainLen] [starSpokes]
  * Prints one JSON line: {"edges":E,"rounds":R,"seconds":S,"chain_ok":b,"star_ok":b}
  */
object FrontierStress {
  def main(args: Array[String]): Unit = {
    val nBackground = if (args.length > 0) args(0).toLong else 2000000L
    val chainLen = if (args.length > 1) args(1).toInt else 18
    val starSpokes = if (args.length > 2) args(2).toLong else 100000L
    require(chainLen < 20, "chain diameter must stay under the default maxIterations")

    val spark = graft.Session.local(32)

    // id layout (all disjoint): background pairs start at 1000, the chain
    // occupies [0, chainLen], the star hub is MAXSTAR with spokes below it
    // and its minimum spoke id ABOVE every background id
    val bgBase = 1000L
    val background = spark.range(nBackground).select(
      (col("id") * 2 + bgBase).as("id_a"), (col("id") * 2 + 1 + bgBase).as("id_b"))
    // chain 0-1, 1-2, …: global minimum 0 at one end — worst-case diameter
    val chain = spark.range(chainLen).select(
      col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val starBase = bgBase + 2 * nBackground + 10
    val hub = starBase + starSpokes // hub id is the component MAX
    val star = spark.range(starSpokes).select(
      (col("id") + starBase).as("id_a"), lit(hub).as("id_b"))
    val edges: DataFrame = background.union(chain).union(star)
      .localCheckpoint(eager = true) // generation out of the timed region

    val t0 = System.nanoTime()
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(edges)
    val byId = labels.where(col("id") <= chainLen.toLong || col("id") >= starBase)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val secs = (System.nanoTime() - t0) / 1e9

    val chainOk = (0L to chainLen.toLong).forall(byId.get(_).contains(0L))
    val starOk = (starBase to hub).forall(byId.get(_).contains(starBase))
    println(f"""{"edges":${nBackground + chainLen + starSpokes},"rounds":$rounds,"seconds":$secs%.2f,"chain_ok":$chainOk,"star_ok":$starOk}""")
    spark.stop()
    if (!chainOk || !starOk) sys.exit(1)
  }
}
