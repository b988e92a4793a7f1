package graft.dsq

import graft.Scratch

/** An empty CSV or TSV field, quoted or not, reads as "" — never null —
  * with and without `-C` and `-n`, and `-n` still converts a numeric
  * column that has empty fields.
  */
class CsvEmptyFieldSpec extends SparkSpec {

  // a: "", "x", "" (the second empty quoted); c: "p", "", "q" (an empty
  // last field); d is numeric with one empty field; tag makes the content
  // new, since the -C cache is keyed by content and outlives the JVM
  private def table(sep: String): String = {
    val rows = Seq(Seq("a", "b", "c", "d", "tag"),
      Seq("", "1", "p", "1", java.util.UUID.randomUUID().toString),
      Seq("x", "2", "", "", ""),
      Seq("\"\"", "3", "q", "3", ""))
    rows.map(_.mkString(sep)).mkString("", "\n", "\n")
  }

  private def check(q: String => String, numbers: Boolean): Unit = {
    assert(q("SELECT a, COUNT(*) AS n FROM {} GROUP BY a ORDER BY a") ==
      canonJson("""[{"a":"","n":2},{"a":"x","n":1}]"""))
    assert(q("SELECT COUNT(*) AS n FROM {} WHERE a = ''") ==
      canonJson("""[{"n":2}]"""))
    assert(q("SELECT COUNT(*) AS n FROM {} WHERE c = ''") ==
      canonJson("""[{"n":1}]"""))
    assert(q("SELECT COUNT(*) AS n FROM {} WHERE a IS NULL OR c IS NULL") ==
      canonJson("""[{"n":0}]"""))
    // -n converts d despite its empty field, which becomes null
    assert(q("SELECT b, d FROM {} ORDER BY b") == canonJson(
      if (numbers) """[{"b":1,"d":1},{"b":2,"d":null},{"b":3,"d":3}]"""
      else """[{"b":"1","d":"1"},{"b":"2","d":""},{"b":"3","d":"3"}]"""))
  }

  for ((ext, sep) <- Seq("csv" -> ",", "tsv" -> "\t");
       cache <- Seq(false, true); numbers <- Seq(false, true)) {
    val flags = Seq(if (cache) "-C" else "", if (numbers) "-n" else "")
      .filter(_.nonEmpty).mkString(" ")
    test(s"empty $ext fields are \"\" ${if (flags.isEmpty) "(no flags)" else flags}") {
      val f = SparkSpec.fixture(s"empty.$ext", table(sep))
      val opts = DsqOptions(cacheEnabled = cache, convertNumbers = numbers)
      try {
        // twice, so that with -C the second answers come from the cache
        for (_ <- 1 to 2) check(sql => canonJson(run(Seq(f), sql, opts)), numbers)
      } finally Scratch.rmTree(ContentHashCache.dirFor(Seq(f), numbers).toFile)
    }
  }
}
