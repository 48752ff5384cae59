package graft.perfbench

import graft.core.Meta
import graft.queries._
import graft.tools.ChainFixtures

/** One timed operation of a workload. */
sealed trait Op {
  def name: String
  /** Report group: the query module, or the chain's instrument. */
  def group: String
}

/** A registered query: `Q.run` builds the DataFrame (eager trainer loops
  * included), then a noop write materialises every row. */
final case class QueryOp(q: Q, group: String) extends Op {
  def name: String = q.name
}

/** A `runots` chain step followed by its netCDF-3 export. `output` is the
  * step's product, named as in `ChainFixtures`. */
final case class ChainOp(chain: ChainFixtures.ChainCase, output: String) extends Op {
  def name: String = chain.label
  def group: String = chain.label.takeWhile(_ != '/')
  def instrument: String = group
}

/** A named set of operations over one input. Query workloads read GenData
  * tables at `sf` (set-up warms `tables`); chain workloads read
  * ChainFixtures written at `mult`. Set-up runs `warmups` untimed
  * passes; an untraced run then times at least `passes`, each in its own
  * seeded order, and reports each operation's median over them. */
final case class Workload(name: String, ops: Seq[Op], warmups: Int, passes: Int,
                          tables: Seq[String] = Nil, sf: Double = 0.0, mult: Double = 0.0) {
  def isChains: Boolean = ops.forall(_.isInstanceOf[ChainOp])
}

object Workloads {

  /** The seven time-series query modules, in report order. */
  val tsModules: Seq[(String, Seq[Q])] = Seq(
    "Aggregates" -> Aggregates.qs,
    "Alignment" -> Alignment.qs,
    "PhysicsQueries" -> PhysicsQueries.qs,
    "ProfileQueries" -> ProfileQueries.qs,
    "SpectralAggQueries" -> SpectralAggQueries.qs,
    "SonarQueries" -> SonarQueries.qs,
    "WaveQueries" -> WaveQueries.qs)

  val moduleNames: Seq[String] = tsModules.map(_._1)

  /** Per module, the query `ts_queries` runs: the as-of gap fill (the
    * as-of family), the Welch spectra, and one window, physics, profile,
    * bin-geometry and sonar query. DIWASP runs in `deployment`. */
  val tsSelection: Map[String, String] = Map(
    "Aggregates" -> "rolling_median",
    "Alignment" -> "fill_time_gaps",
    "PhysicsQueries" -> "rotate_magvar",
    "ProfileQueries" -> "agc_gate",
    "SpectralAggQueries" -> "create_z",
    "SonarQueries" -> "sonar_regrid",
    "WaveQueries" -> "wave_spectra")

  private def tsOps: Seq[Op] = tsModules.map { case (m, qs) =>
    QueryOp(qs.find(_.name == tsSelection(m)).get, m)
  }

  /** The `deployment` chains, the pressure-sensor lifecycle clean ->
    * waves -> DIWASP, each with the step product its `ChainCase.run`
    * writes. */
  private val chainOutputs: Seq[(String, String)] = Seq(
    "rsk/clean" -> "comclean", "rsk/waves" -> "comwaves",
    "rsk/diwasp" -> "dwdiwasp")

  private def deploymentOps: Seq[Op] = {
    val byLabel = ChainFixtures.all.map(c => c.label -> c).toMap
    chainOutputs.map { case (l, out) => ChainOp(byLabel(l), out) }
  }

  def all: Seq[Workload] = Seq(
    // per-pass CPU and JIT time level off at the third pass of a fresh JVM
    // on ts_queries; on deployment CPU still falls a few per cent a pass
    // after the third. Set-up runs the passes up to the plateau, on
    // deployment up to where the fall is a few per cent a pass. An
    // operation's CPU moves by up to a quarter from one pass to the next;
    // three timed passes give each ts_queries operation a median over
    // three seeded orders, which drops one slow repetition. deployment's
    // spread comes from offsets that last a whole run (ten runs spread
    // 0.113 with two timed passes and 0.115 with four), so it times two,
    // which keeps all runs within the benchmark's time budget. Both
    // counts take longer than `--seconds 4`, so every run times the same
    // number.
    Workload("ts_queries", tsOps, warmups = 3, passes = 3, tables = Seq("events"), sf = 0.1),
    Workload("deployment", deploymentOps, warmups = 3, passes = 2, mult = 0.05))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  /** Export of a chain product: the same `runots` entry point, step
    * `export`, with no extra configuration (netCDF-3 classic). */
  def export(spark: org.apache.spark.sql.SparkSession, c: ChainOp,
             p: String => String): Unit =
    graft.cli.RunOts.runStep(spark, c.instrument, "export",
      Meta(Map.empty[String, Any]), p(c.output), p(c.output + ".nc"))
}
