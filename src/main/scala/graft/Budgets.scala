package graft

/** The bench budget model, shared between [[Bench]]'s solo-retry
  * adjudication and `tools/check_bench.py`'s gate (r12 verdict task #1).
  *
  * ONE TABLE: the numbers live in `tools/bench_budgets.txt`, which both
  * sides read — the gate is a standalone Python script run against a raw
  * stdout capture (no JVM), while Bench needs the same budgets IN-PROCESS
  * to decide which over-budget lines to re-run solo before the JVM exits.
  * The path is relative to the working directory, the repo root under
  * both sbt and `tools/run_main.sh`.
  *
  * THE MODEL (identical math to check_bench.py): per-query budget =
  * max(FloorSec, typical x Headroom) x box, where box is the clamped
  * median of observed/typical across every line in the run — a uniformly
  * slow box moves all budgets together; a single regressed query still
  * sticks out against the suite median. */
object Budgets {
  val TablePath = "tools/bench_budgets.txt"

  /** The model constants; every other name in the table is a per-line
    * typical. */
  private val Constants = Seq("DEFAULT_TYPICAL", "HEADROOM", "FLOOR_SEC")

  private val Entry = """([A-Za-z0-9_]+)\s+([0-9]+(?:\.[0-9]+)?)""".r

  /** Parse the budget table (`name seconds` per line, `#` comments) into
    * name -> seconds, in check_bench.py's `load_budgets` grammar. A
    * malformed or repeated line throws, naming `source`, the line number
    * and the line. */
  def parse(lines: Seq[String], source: String): Map[String, Double] = {
    val table = lines.zipWithIndex.foldLeft(Map.empty[String, Double]) {
      case (acc, (line, i)) =>
        line.takeWhile(_ != '#').trim match {
          case "" => acc
          case Entry(name, sec) if !acc.contains(name) =>
            acc + (name -> sec.toDouble)
          case _ => throw new IllegalArgumentException(
            s"$source:${i + 1}: malformed budget line '$line' " +
              "(want `name seconds`, each name once)")
        }
    }
    for (c <- Constants if !table.contains(c))
      throw new IllegalArgumentException(s"$source: missing $c")
    table
  }

  private val table: Map[String, Double] = {
    val src = scala.io.Source.fromFile(TablePath, "UTF-8")
    try parse(src.getLines().toSeq, TablePath) finally src.close()
  }

  /** Per-line typical seconds: a registry query or `xN_ingest_*` line. */
  val Typicals: Map[String, Double] = table -- Constants
  val DefaultTypical: Double = table("DEFAULT_TYPICAL")
  val Headroom: Double = table("HEADROOM")
  val FloorSec: Double = table("FLOOR_SEC")

  def typical(name: String): Double = Typicals.getOrElse(name, DefaultTypical)

  /** Clamped median of observed/typical — check_bench.py's box factor,
    * bit-for-bit: upper median (ratios(n/2) on the sorted seq), clamped
    * to [0.5, 4.0] so a broken box claim can at most 4x the budgets. */
  def boxFactor(results: Iterable[(String, Double)]): Double = {
    val ratios = results.map { case (n, sec) => sec / typical(n) }.toSeq.sorted
    if (ratios.isEmpty) 1.0
    else math.max(0.5, math.min(4.0, ratios(ratios.size / 2)))
  }

  def budget(name: String, box: Double): Double =
    math.max(FloorSec * box, typical(name) * Headroom * box)
}
