package graft.perfbench

import java.io.File

/** Writes a query workload's GenData tables into the checkout, once.
  * `run.py` starts it in a JVM of its own before the measured one, so that
  * generating the tables warms no JVM that is then timed:
  *
  *   java -cp ... graft.perfbench.Inputs --workload NAME --work DIR
  *
  * Chain workloads write their fixtures in set-up instead (they are part
  * of `setup_s`), so for them this does nothing. */
object Inputs {

  def dataDir(work: File, wl: Workload): File = new File(work, s"data/sf${wl.sf}")

  def ready(dir: File): Boolean = new File(dir, "_READY").isFile

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = Workloads.byName(kv("workload"))
    val work = new File(kv("work")).getAbsoluteFile
    if (!wl.isChains) generate(dataDir(work, wl), wl.sf, work)
    sys.exit(0)
  }

  /** GenData tables at `sf` (the seed of the data is GenData's own; it
    * never changes). GenData copies region and nation from a source
    * directory, so those two fixed tables are written first. */
  private def generate(dir: File, sf: Double, work: File): Unit = {
    if (ready(dir)) return
    val t0 = System.nanoTime()
    Seq("spark-local", "warehouse").foreach(d => new File(work, d).mkdirs())
    val s = Main.session(Runtime.getRuntime.availableProcessors, work)
    import s.implicits._
    val rn = new File(work, "data/rn")
    Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(new File(rn, "region.parquet").getPath)
    (0 until 25).map(i => (i, s"NATION_$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(new File(rn, "nation.parquet").getPath)
    // GenData reuses this session and stops it when done
    graft.tools.GenData.main(Array(dir.getPath, sf.toString, rn.getPath))
    new File(dir, "_READY").createNewFile()
    System.err.println(f"[perfbench] generated sf$sf tables in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
