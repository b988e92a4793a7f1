package graft.dsq

import java.io.{ByteArrayOutputStream, PrintStream}

/** The one-shot CLI writes its output through a buffered writer as the
  * rows arrive. The bytes must equal what printing the whole rendered
  * string gave, for JSON and for the pretty table.
  */
class StreamedOutputSpec extends SparkSpec {

  // more than the writer's 64 KiB buffer, with non-ASCII text and a
  // surrogate pair that can fall on a buffer boundary
  private lazy val csv = SparkSpec.fixture("stream.csv",
    (0 until 6000).map(i => s"$i,café 😀 $i,${i * 7}")
      .mkString("id,name,v\n", "\n", "\n"))

  private def bytes(charset: String)(body: => Unit): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, charset))(body)
    buf.toByteArray
  }

  for (pretty <- Seq(false, true); charset <- Seq("UTF-8", "US-ASCII")) {
    val what = if (pretty) "pretty table" else "JSON"
    test(s"streamed $what bytes equal the printed rendered string ($charset)") {
      val q = "SELECT id, name, v FROM {} WHERE CAST(id AS INT) % 2 = 0"
      val argv = (if (pretty) Seq("-p") else Nil) ++ Seq(csv, q)
      val Right(args) = Cli.parse(argv.toArray, Map.empty): @unchecked
      val rendered = engine.run(Seq(csv), Seq(None), Some(q), args.opts)
      val printed = bytes(charset) { print(rendered); println() }
      var code = -1
      val streamed = bytes(charset) { code = Cli.run(args) }
      assert(code == 0)
      assert(rendered.length > (1 << 16))
      assert(streamed.sameElements(printed),
        s"streamed ${streamed.length} bytes, printed ${printed.length}")
    }
  }
}
