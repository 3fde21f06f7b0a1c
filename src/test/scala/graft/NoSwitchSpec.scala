package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One code path per operator: no code under `src/main/scala/graft`
  * reads a JVM property, and only the bench and verify mains and the
  * `tools` read environment variables — and then only the deployment
  * settings below (core count, scale-factor dir, query subset, bench
  * repetitions). A measured-and-lost variant
  * kept behind a `-D` or env switch inside an operator turns this red;
  * the numbers of a lost A/B belong in BENCH_NOTES.md and git, not in a
  * live branch.
  */
class NoSwitchSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")
  private val read =
    """sys\.props|System\.getProperty|sys\.env|System\.getenv""".r
  private val deploymentSetting =
    """"SPARK_GRAFT_(CPUS|SF_DIR|ONLY|BENCH_REPS)"""".r

  private def mayReadEnv(p: Path): Boolean = {
    val rel = root.relativize(p).toString
    rel == "Bench.scala" || rel == "Verify.scala" || rel.startsWith("tools/")
  }

  /** `file:line: text` of every read outside the allowed set. */
  private def violations(): Seq[String] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      m <- read.findAllMatchIn(line)
      if !(m.matched.contains("env") && mayReadEnv(f) &&
        deploymentSetting.findFirstIn(line.substring(m.end)).isDefined)
    } yield s"$f:${i + 1}: ${line.trim}"
  }

  test("no operator reads a JVM property or an env var; the mains and " +
       "tools read only the deployment settings") {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val bad = violations()
    if (bad.nonEmpty)
      fail(s"${bad.size} property/env reads outside the deployment " +
        "settings:\n" + bad.mkString("\n"))
  }
}
