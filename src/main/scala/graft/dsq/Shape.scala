package graft.dsq

import org.apache.spark.sql.types._

/** The reference's "Shape" schema language (reference: README.md:445-490,
  * main.go:103-117; kinds scalar|array|object|varied|unknown), rendered
  * from a Spark schema of the *raw* (pre-flatten) parse.
  */
sealed trait Shape
object Shape {
  final case class Scalar(name: String) extends Shape
  final case class Arr(of: Shape) extends Shape
  final case class Obj(fields: Seq[(String, Shape)]) extends Shape
  /** A value sampled/declared with more than one kind (Avro unions,
    * mixed-type JSON columns) — reference README.md:445-490 "Varied of".
    */
  final case class Varied(of: Seq[Shape]) extends Shape
  case object Unknown extends Shape

  def ofDataType(dt: DataType): Shape = dt match {
    case st: StructType =>
      Obj(st.fields.toSeq.map(f => f.name -> ofDataType(f.dataType)))
    case at: ArrayType => Arr(ofDataType(at.elementType))
    case _: MapType => Obj(Nil)
    case StringType => Scalar("string")
    case BooleanType => Scalar("boolean")
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | _: DecimalType => Scalar("number")
    case TimestampType | DateType => Scalar("string")
    case NullType => Scalar("null")
    case _ => Unknown
  }

  /** A file table is always an array of row objects. */
  def ofTable(schema: StructType): Shape = Arr(ofDataType(schema))

  /** Sampled shape inference over raw JSON values (reference
    * main.go:104/221 → runner.ShapeFromFile with sampleSize=100):
    * Spark's JSON schema inference COERCES a mixed-type column (1 and
    * "a" sample to string), erasing exactly the mixedness the reference
    * renders as `Varied of`. So for schema dumps the JSON-family
    * formats parse the first `sample` rows with Jackson and merge
    * per-key kind votes instead: kinds that disagree across sampled
    * rows become Varied (branch order first-seen, Unknown last, like
    * the Avro-union rendering in README.md:453-490); a key missing
    * from some sampled rows — and an explicit JSON null — contribute
    * Unknown. Object keys sort alphabetically like every other dsq
    * object. Sampling bounds driver work: only the first `sample`
    * values are parsed, never the whole file.
    */
  def ofJsonSampled(values: Iterator[com.fasterxml.jackson.databind.JsonNode],
      sample: Int = 100): Shape = {
    val taken = values.take(sample).map(ofJsonNode).toSeq
    Arr(taken.reduceOption(merge).getOrElse(Unknown))
  }

  def ofJsonNode(n: com.fasterxml.jackson.databind.JsonNode): Shape = {
    import scala.jdk.CollectionConverters._
    if (n == null || n.isNull) Unknown
    else if (n.isTextual) Scalar("string")
    else if (n.isNumber) Scalar("number")
    else if (n.isBoolean) Scalar("boolean")
    else if (n.isArray)
      Arr(n.elements().asScala.take(100).map(ofJsonNode).toSeq
        .reduceOption(merge).getOrElse(Unknown))
    else if (n.isObject)
      Obj(n.properties().asScala.toSeq.map(e => e.getKey -> ofJsonNode(e.getValue))
        .sortBy(_._1))
    else Unknown
  }

  /** Structural merge of two sampled shapes: equal shapes collapse,
    * arrays merge element shapes, objects merge per key (a key absent
    * on one side merges with Unknown), anything else goes Varied —
    * flattened, structurally deduped, Unknown last.
    */
  def merge(a: Shape, b: Shape): Shape = (a, b) match {
    case (x, y) if x == y => x
    case (Arr(x), Arr(y)) => Arr(merge(x, y))
    case (Obj(xs), Obj(ys)) =>
      val xm = xs.toMap
      val ym = ys.toMap
      val keys = (xs.map(_._1) ++ ys.map(_._1)).distinct.sorted
      Obj(keys.map { k =>
        k -> ((xm.get(k), ym.get(k)) match {
          case (Some(x), Some(y)) => merge(x, y)
          case (Some(x), None) => merge(x, Unknown)
          case (None, Some(y)) => merge(Unknown, y)
          case _ => Unknown
        })
      })
    case (x, y) => varied(Seq(x, y))
  }

  private def varied(shapes: Seq[Shape]): Shape = {
    val flat = shapes.flatMap {
      case Varied(s) => s
      case s => Seq(s)
    }.distinct
    val (unk, rest) = flat.partition(_ == Unknown)
    val ordered = rest ++ unk
    if (ordered.length == 1) ordered.head else Varied(ordered)
  }

  /** Shape a JSON-family file by streamed sample (never whole-file):
    * json = top-level array elements, jsonl = first lines, cjson =
    * concatenated values, yaml = document items re-encoded as JSON.
    */
  def ofJsonFileSampled(file: String, mime: String,
      sample: Int = 100): Shape = {
    import com.fasterxml.jackson.core.JsonToken
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    val mapper = new ObjectMapper()
    mime match {
      case "json" =>
        val parser = mapper.getFactory.createParser(new java.io.File(file))
        try {
          val first = parser.nextToken()
          if (first != JsonToken.START_ARRAY)
            throw DsqError(s"Input is not an array of objects: $file.")
          val it = Iterator.continually {
            val t = parser.nextToken()
            if (t == null || t == JsonToken.END_ARRAY) null
            else mapper.readTree[JsonNode](parser)
          }.takeWhile(_ != null)
          ofJsonSampled(it, sample)
        } finally parser.close()
      case "jsonl" =>
        val src = scala.io.Source.fromFile(file, "UTF-8")
        try ofJsonSampled(src.getLines().filter(_.trim.nonEmpty)
          .map(mapper.readTree), sample)
        finally src.close()
      case "cjson" =>
        // bounded read (first 4 MiB): the depth tokenizer only emits
        // COMPLETE values, so a truncated trailing value is silently
        // dropped from the sample rather than mis-parsed — 100 rows of
        // concatenated JSON fit far inside the bound for any sane input
        val in = new java.io.FileInputStream(file)
        val raw = try {
          val buf = new Array[Byte](4 << 20)
          var off = 0
          var n = in.read(buf, off, buf.length - off)
          while (n > 0 && off < buf.length) {
            off += n
            n = in.read(buf, off, buf.length - off)
          }
          new String(buf, 0, off, "UTF-8")
        } finally in.close()
        ofJsonSampled(Readers.splitConcatenatedJson(raw).iterator
          .map(mapper.readTree), sample)
      case "yaml" =>
        import scala.jdk.CollectionConverters._
        val y = new org.yaml.snakeyaml.Yaml()
        val doc = y.load[Object](new java.io.FileInputStream(file))
        val items = doc match {
          case l: java.util.List[_] => l.asScala.toVector
          case _ => throw DsqError(s"Input is not an array of objects: $file.")
        }
        ofJsonSampled(items.iterator.map(v =>
          mapper.readTree(mapper.writeValueAsString(v))), sample)
      case other =>
        throw DsqError(s"Sampled shape unsupported for $other.")
    }
  }

  /** Shape straight from an Avro schema: unions become Varied. Spark's
    * JSON-inference path erases unions (a null branch just makes the
    * field nullable), so the avro reader derives the shape from the
    * declared schema instead — matching the reference's rendering of
    * testdata/avro/test_data.avro (README.md:453-490): each non-null
    * union branch appears as the avro JSON encoding's single-key object
    * ({"long": …}), the null branch renders last as Unknown, and record
    * fields sort alphabetically like every other dsq object.
    */
  def ofAvro(schema: org.apache.avro.Schema): Shape = {
    import org.apache.avro.Schema.Type._
    import scala.jdk.CollectionConverters._
    schema.getType match {
      case RECORD =>
        Obj(schema.getFields.asScala.toSeq.sortBy(_.name)
          .map(f => f.name -> ofAvro(f.schema())))
      case UNION =>
        val branches = schema.getTypes.asScala.toSeq
        val nonNull = branches.filter(_.getType != NULL)
        nonNull match {
          case Seq(only) if branches.length == 1 => ofAvro(only)
          case _ =>
            val shapes = nonNull.map(b =>
              Obj(Seq(b.getName -> ofAvro(b)))) ++
              (if (branches.exists(_.getType == NULL)) Seq(Unknown) else Nil)
            if (shapes.length == 1) shapes.head else Varied(shapes)
        }
      case ARRAY => Arr(ofAvro(schema.getElementType))
      case MAP => Obj(Nil)
      case STRING | BYTES | FIXED | ENUM => Scalar("string")
      case INT | LONG | FLOAT | DOUBLE => Scalar("number")
      case BOOLEAN => Scalar("boolean")
      case NULL => Scalar("null")
      case _ => Unknown
    }
  }

  /** Table shape of an Avro container file (array of records). */
  def ofAvroFile(path: String): Shape = {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val reader = new DataFileReader[GenericRecord](
      new java.io.File(path), new GenericDatumReader[GenericRecord]())
    val schema = try reader.getSchema finally reader.close()
    Arr(ofAvro(schema))
  }

  /** JSON rendering (reference test scripts/test.py:242-266). */
  def toJson(s: Shape, indent: Int = 0): String = {
    val pad = "  " * indent
    val pad1 = "  " * (indent + 1)
    s match {
      case Scalar(n) =>
        s"{\n${pad1}\"kind\": \"scalar\",\n${pad1}\"scalar\": ${Output.renderString(n)}\n$pad}"
      case Arr(of) =>
        s"{\n${pad1}\"kind\": \"array\",\n${pad1}\"array\": ${toJson(of, indent + 1)}\n$pad}"
      case Obj(fields) =>
        val inner = fields.map { case (k, v) =>
          s"${pad1}  ${Output.renderString(k)}: ${toJson(v, indent + 2)}"
        }.mkString(",\n")
        val body = if (fields.isEmpty) "{}" else s"{\n$inner\n$pad1}"
        s"{\n${pad1}\"kind\": \"object\",\n${pad1}\"object\": $body\n$pad}"
      case Varied(of) =>
        val inner = of.map(v => s"$pad1  ${toJson(v, indent + 2)}")
          .mkString(",\n")
        s"{\n${pad1}\"kind\": \"varied\",\n${pad1}\"varied\": [\n$inner\n$pad1]\n$pad}"
      case Unknown =>
        s"{\n${pad1}\"kind\": \"unknown\"\n$pad}"
    }
  }

  /** Pretty rendering (reference test scripts/test.py:228-239). */
  def toPretty(s: Shape, indent: Int = 0): String = {
    val pad = "  " * indent
    s match {
      case Scalar(n) => s"$pad$n\n"
      case Arr(of) => s"${pad}Array of\n" + toPretty(of, indent + 1)
      case Obj(fields) =>
        s"${pad}Object of\n" + fields.map { case (k, v) =>
          s"$pad  $k of\n" + toPretty(v, indent + 2)
        }.mkString
      // alternatives joined by " or" on the last line of each non-final
      // branch (README.md:458-487)
      case Varied(of) =>
        s"${pad}Varied of\n" + of.zipWithIndex.map { case (v, i) =>
          val r = toPretty(v, indent + 1)
          if (i < of.length - 1) r.stripSuffix("\n") + " or\n" else r
        }.mkString
      case Unknown => s"${pad}Unknown\n"
    }
  }
}
