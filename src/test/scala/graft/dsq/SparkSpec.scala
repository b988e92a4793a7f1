package graft.dsq

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val engine: Engine = new Engine(spark)

  /** Parse a dsq JSON output into a canonical sorted form for comparison
    * (the reference harness compares `json.dumps(json.loads(x), sort_keys)`).
    */
  def canonJson(s: String): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.configure(
      com.fasterxml.jackson.databind.SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)
    val tree = mapper.readTree(s)
    mapper.writeValueAsString(mapper.treeToValue(tree, classOf[Object]))
  }

  def run(files: Seq[String], query: String,
      opts: DsqOptions = DsqOptions()): String =
    engine.run(files, files.map(_ => None), Some(query), opts)

  val td = "/root/reference/testdata"

  /** A fixture of the dsq checkout's testdata/ under `td`, for the goldens
    * whose file content no document states. Without the checkout the
    * test is canceled, not failed; with it, the test runs unchanged.
    */
  def refFixture(rel: String): String = {
    val p = s"$td/$rel"
    assume(Files.isRegularFile(Paths.get(p)), s"reference fixture not present: $p")
    p
  }

  /** convert.csv: one column `test` and the six values of the golden at
    * test.py:362-369.
    */
  lazy val convertCsv: String =
    SparkSpec.fixture("convert.csv", "test\n1\n1.1\n+1\n01\n001\n0001.1\n")
}

object SparkSpec {
  /** Writes `content` to `rel` (e.g. "regr/36.json") under a fresh temp
    * dir and returns the file's path. The file name and extension are
    * kept, since the reader is picked from the extension.
    */
  def fixture(rel: String, content: String): String = {
    val dir = Files.createTempDirectory("dsq_fixture")
    dir.toFile.deleteOnExit()
    val f = dir.resolve(rel)
    if (f.getParent != dir) {
      Files.createDirectories(f.getParent)
      f.getParent.toFile.deleteOnExit()
    }
    Files.writeString(f, content)
    f.toFile.deleteOnExit()
    f.toString
  }

  lazy val session: SparkSession = graft.LocalSession("local[4]", "4",
    "ERROR", "spark.app.name" -> "graft-test")
}
