package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Oracle-SQL type lint as a test, so the round-11 defect class can never
  * rot back in: every `SparkEntry.oracleSql` entry is bound in DuckDB and
  * each output column's LOGICAL TYPE must be one a parquet-read Spark
  * result can actually surface as. DuckDB's `sum(BIGINT)` is HUGEINT and
  * `//` propagates it, so an uncast aggregate ratio hashes red at the
  * driver (dtype-sensitive) while values stay bit-identical — exactly the
  * 5-gate red the round-11 judge root-caused. The lint is static (DuckDB
  * binds types without executing), so this runs in seconds.
  *
  * The heavy lifting is `tools/check_correctness.py --lint`, shared with
  * the builder's close protocol; this spec is the `sbt test` hook.
  */
class OracleLintSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def haveTool: Boolean =
    Files.exists(Paths.get("tools/check_correctness.py")) && {
      try new ProcessBuilder("python3", "-c", "import duckdb")
        .start().waitFor() == 0
      catch { case _: java.io.IOException => false }
    }

  /** Minimal JSON-object writer for a name→SQL map (escapes quotes,
    * backslashes, and all control chars — same discipline as Verify). */
  private def writeJson(m: Map[String, String]): java.nio.file.Path = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case '\n'          => "\\n"
      case '\r'          => "\\r"
      case '\t'          => "\\t"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    } + "\""
    val body = m.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",\n", "}")
    val p = Files.createTempFile("oracle_lint", ".json")
    p.toFile.deleteOnExit()
    Files.write(p, body.getBytes("UTF-8"))
    p
  }

  private def runLint(json: java.nio.file.Path): (Int, String) = {
    val pb = new ProcessBuilder(
      "python3", "tools/check_correctness.py", "--lint", sfDir,
      json.toString)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    (proc.waitFor(), out)
  }

  test("every registered gate has an oracle and every oracle a gate") {
    val gates = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(gates == oracles,
      s"gates without oracle: ${(gates -- oracles).toSeq.sorted}; " +
        s"oracles without gate: ${(oracles -- gates).toSeq.sorted}")
  }

  test("every oracle binds to portable output types in DuckDB") {
    assume(haveTool, "python3+duckdb not available")
    assume(Files.exists(Paths.get(s"$sfDir/lineitem.parquet")),
      "driver testdata not present")
    val json = writeJson(SparkEntry.oracleSql)
    val (code, out) = runLint(json)
    val flagged = out.linesIterator.filter(_.startsWith("LINT")).toSeq
    assert(code == 0 && flagged.isEmpty,
      s"non-portable oracle output types:\n${flagged.mkString("\n")}")
  }

  test("the lint actually catches an uncast HUGEINT oracle (regression)") {
    assume(haveTool, "python3+duckdb not available")
    assume(Files.exists(Paths.get(s"$sfDir/lineitem.parquet")),
      "driver testdata not present")
    // the round-11 defect in miniature: sum(BIGINT) propagates HUGEINT
    // through * and // all the way to the uncast output column
    val bad = Map("q_regress_hugeint" ->
      ("SELECT l_returnflag, sum(l_orderkey) * 1000000 // count(*) " +
        "AS ratio_ppm FROM lineitem GROUP BY 1 LIMIT 1"))
    val (code, out) = runLint(writeJson(bad))
    assert(code != 0, s"lint passed a HUGEINT oracle:\n$out")
    assert(out.contains("HUGEINT"), s"expected a HUGEINT flag:\n$out")
  }
}
