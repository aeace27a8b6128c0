package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source lint over `src/main/scala/graft/ops`: each shared decision has
  * one owner, and the query objects call it instead of declaring a copy.
  *
  *  - table loading: `graft.engine.Tables.load`, called directly (no
  *    per-object `t(s, dir, name)` wrapper);
  *  - the text tokenizer and its DuckDB twin: `LlmPipeline.tokens` and
  *    `LlmPipeline.duckTokens` (no `toks` / `duckToks` copy);
  *  - the session's shuffle width: `ConfScope.shufflePartitions`, which
  *    reads under ConfScope's lock, so no transient scope width is taken
  *    for the session's value.
  */
class OpsLintSpec extends AnyFunSuite {

  private val opsRoot = new File("src/main/scala/graft/ops")

  /** `file:line: text` of every ops source line matching `bad`. */
  private def offenders(bad: String => Boolean): Seq[String] = {
    val files = Option(opsRoot.listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".scala")).sortBy(_.getName)
    assert(files.nonEmpty, s"no sources under $opsRoot")
    for {
      f <- files
      (line, i) <- new String(java.nio.file.Files.readAllBytes(f.toPath))
        .split("\n", -1).toSeq.zipWithIndex
      if bad(line)
    } yield s"${f.getName}:${i + 1}: ${line.trim}"
  }

  private def assertNone(what: String, found: Seq[String]): Unit =
    assert(found.isEmpty, s"${found.size} $what:\n${found.mkString("\n")}")

  test("ops: no per-object table-loading wrapper (call Tables.load)") {
    val wrapper = """def t\(\s*s: SparkSession,\s*dir: String,\s*name: String\)""".r
    assertNone("t(s, dir, name) wrappers", offenders(wrapper.findFirstIn(_).nonEmpty))
  }

  test("ops: no tokenizer copies (use LlmPipeline.tokens / duckTokens)") {
    val copy = """def toks\(|val duckToks\b""".r
    assertNone("tokenizer copies", offenders(copy.findFirstIn(_).nonEmpty))
  }

  test("ops: the session shuffle width is read only through ConfScope") {
    assertNone("spark.sql.shuffle.partitions reads outside ConfScope",
      offenders(_.contains("\"spark.sql.shuffle.partitions\"")))
  }
}
