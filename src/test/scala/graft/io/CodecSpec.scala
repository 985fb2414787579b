package graft.io

import java.nio.file.{Files, Path, Paths}

import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** The metadata codec ([[Codec]]): every record round-trips through
  * JSON, and documents in the layout written before the codec (flat
  * string arrays, pipe-packed stats) still decode and read back.
  */
class CodecSpec extends graft.SparkSpec {
  import spark.implicits._

  private def roundTrip[T <: AnyRef](v: T): T =
    Codec.mapper.readValue(Codec.encode(v), v.getClass).asInstanceOf[T]

  private def check(p: Prop): Unit = {
    val r = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(200).withMaxSize(24).withInitialSeed(Seed(42L)), p)
    assert(r.passed, r.status.toString)
  }

  // strings built to break a hand-written codec: quotes, backslashes,
  // every C0 control char, supplementary characters, JSON punctuation,
  // and values equal to the documents' own key names
  private val keyNames = Seq("files", "props", "colstats", "stats", "schema", "pcols", "renames",
    "dropped", "pspec", "sort", "dist", "checks", "tags", "sql", "ns", "")
  private val text: Gen[String] = {
    val piece = Gen.frequency(
      3 -> Gen.oneOf("\"", "\\", "\\u0041", "\":", "[", "]", ",", "|"),
      3 -> Gen.choose(0, 0x1f).map(_.toChar.toString),
      2 -> Gen.oneOf("😀", "𝄞", new String(Character.toChars(0x10ffff))),
      4 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.choose(0xa0, 0xd7ff).map(_.toChar.toString))
    Gen.frequency(1 -> Gen.oneOf(keyNames), 4 -> Gen.listOf(piece).map(_.mkString))
  }
  private val texts = Gen.listOf(text)
  private val pairs = Gen.mapOf(Gen.zip(text, text))

  private val colStats: Gen[FileStats.ColStats] = {
    def both[T](g: Gen[T]): Gen[(Any, Any)] = Gen.zip(g, g)
    val bytes = Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    val double = Gen.oneOf(Gen.long.map(java.lang.Double.longBitsToDouble),
      Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity, -0.0d, 0.0d, Double.NaN,
        Double.MinPositiveValue, Double.MaxValue))
    val minMax = Gen.oneOf(
      both(Gen.long.map(java.lang.Long.valueOf)),
      both(Gen.choose(Int.MinValue, Int.MaxValue).map(java.lang.Integer.valueOf)),
      both(double.map(java.lang.Double.valueOf)),
      both(Gen.choose(Float.MinValue, Float.MaxValue).map(java.lang.Float.valueOf)),
      both(Gen.zip(Gen.long, Gen.choose(0, 20)).map { case (u, s) => java.math.BigDecimal.valueOf(u, s) }),
      both(bytes.map(Binary.fromConstantByteArray)),
      Gen.const((null, null)))
    for {
      (mn, mx) <- minMax
      nulls <- Gen.choose(0L, Long.MaxValue)
      rows <- Gen.choose(0L, Long.MaxValue)
      bloom <- Gen.option(bytes)
    } yield FileStats.ColStats(mn, mx, nulls, rows, bloom)
  }

  /** Stats compared by exact value: integrals widen to Long and floats
    * to Double on decode, and Double's text keeps -0.0 and NaN apart
    * from 0.0 (boxed `==` would not).
    */
  private def exact(cs: FileStats.ColStats) = {
    def v(x: Any): String = x match {
      case null => "null"
      case n @ (_: java.lang.Integer | _: java.lang.Long) => s"i$n"
      case f: java.lang.Float => s"f${f.doubleValue}"
      case d: java.lang.Double => s"f$d"
      case d: java.math.BigDecimal => s"D$d"
      case b: Binary => b.getBytes.mkString("s", ",", "")
    }
    (v(cs.min), v(cs.max), cs.nullCount, cs.rowCount, cs.bloom.map(_.toSeq))
  }

  test("every metadata record round-trips: manifest, TableMeta, tags, ViewRecord") {
    val manifest = for {
      files <- texts.map(_.distinct)
      props <- pairs
      stats <- Gen.listOfN(files.size, Gen.mapOf(Gen.zip(text, colStats)))
    } yield (files, props, stats)
    check(Prop.forAllNoShrink(manifest) { case (files, props, stats) =>
      val back = roundTrip(Codec.Manifest(files, props, stats.map(Codec.StatRecord.of)))
      val expected = files.zip(stats).filter(_._2.nonEmpty)
        .map { case (f, cols) => f -> cols.map { case (c, cs) => c -> exact(cs) } }.toMap
      back.files == files && back.props == props &&
        back.statsByFile.map { case (f, cols) => f -> cols.map { case (c, cs) => c -> exact(cs) } } == expected
    })

    val meta = for {
      schema <- Gen.option(text); pcols <- Gen.option(texts); renames <- pairs; dropped <- texts
      pspec <- texts; sort <- texts; dist <- Gen.option(text); checks <- pairs
    } yield TableCatalog.TableMeta(schema, pcols, renames, dropped, pspec, sort, dist, checks)
    check(Prop.forAllNoShrink(meta)(m => roundTrip(m) == m))
    // declared-but-empty partitioning stays declared; undeclared stays absent
    assert(roundTrip(TableCatalog.TableMeta(partitionCols = Some(Nil))).partitionCols.contains(Nil))
    assert(roundTrip(TableCatalog.TableMeta(renames = Map("pcols" -> "pcols"))).partitionCols.isEmpty)

    val tags = Gen.mapOf(Gen.zip(text, Gen.choose(1, Int.MaxValue).map(_.toString))).map(Codec.Tags(_))
    check(Prop.forAllNoShrink(tags)(t => roundTrip(t) == t))

    val view = for {
      sql <- text; schema <- text; cat <- text; ns <- texts; qcols <- texts
      aliases <- texts; comments <- texts; props <- pairs
    } yield ViewStore.ViewRecord(sql, schema, cat, ns, qcols, aliases, comments, props)
    check(Prop.forAllNoShrink(view)(v => roundTrip(v) == v))
  }

  /** A document the parent layout wrote, byte for byte. */
  private def parentDoc(file: String): Array[Byte] =
    getClass.getResourceAsStream(s"/graft/io/parent-format/$file").readAllBytes()

  test("documents in the parent layout decode to the values that layout wrote") {
    val wh = Files.createTempDirectory("graft_codec_parent_")
    val t = "default.compat"
    val meta = Files.createDirectories(wh.resolve("default/compat/_graft_meta"))
    Seq("v1.json", "meta.json", "tags.json").foreach(f => Files.write(meta.resolve(f), parentDoc(f)))
    Files.write(wh.resolve("default/vw.view.json"), parentDoc("vw.view.json"))
    val cat = TableCatalog(wh.toString)
    val root = Paths.get(cat.pathOf(t)).toAbsolutePath.normalize
    def abs(p: String) = root.resolve(p).toString

    // manifest: relative and absolute paths, props, deletes, marks
    assert(cat.manifest(t, 1) == Seq(abs("data/k=1/part-0.parquet"), "/elsewhere/x \"q\"/part-1.parquet"))
    val props = cat.manifestProps(t, 1)
    assert(props.keySet == Set(TableCatalog.DeletesProp, "note", "streamBatchId:sink-1"))
    assert(props("note") == "tab\tquote\"slash\\ctl\u0003 emoji 😀")
    assert(cat.pendingDeletes(t, 1) == Seq(
      TableCatalog.DeleteEntry(abs("deletes/d1/del-0.parquet"), Seq(abs("data/k=1/part-0.parquet"))),
      TableCatalog.DeleteEntry(abs("deletes/d2/eq-0.parquet"), Seq(abs("data/k=1/part-0.parquet")),
        Seq("id", "ts"))))
    assert(cat.streamBatchMark(t, TableCatalog.streamBatchProp(Some("sink-1"))).contains(41L))
    // the pipe-packed stats array is an unknown key now: footer reads answer
    assert(cat.manifestStats(t, 1).isEmpty)

    assert(cat.readMeta(t) == TableCatalog.TableMeta(
      schemaJson = Some("""{"type":"struct","fields":[{"name":"id","type":"long","nullable":true,"metadata":{}}]}"""),
      partitionCols = Some(Seq("id_bucket")),
      renames = Map("note" -> "comment", "dropped" -> "pcols"),
      dropped = Seq("files", "old_col"),
      partitionSpec = Seq("bucket(4, id)"),
      sortOrder = Seq("id", "ts DESC"),
      distribution = Some("hash"),
      checks = Map("pos" -> "id > 0", "q" -> "s <> '\"'")))
    assert(cat.tags(t) == Map("train-run-47" -> 1))
    assert(ViewStore.load(wh.toString, "default.vw").contains(ViewStore.ViewRecord(
      sql = "SELECT id, 'a\"b' AS s FROM fact WHERE note <> '\\t'",
      schemaJson = """{"type":"struct","fields":[]}""",
      currentCatalog = "graft",
      currentNamespace = Seq("default"),
      queryColumnNames = Seq("id", "s"),
      columnAliases = Seq("k", "label"),
      columnComments = Seq("", "a comment"),
      properties = Map("owner" -> "etl", "comment" -> "v1"))))
    // a view document without its SQL is corrupt, not an empty view;
    // any other absent key decodes empty
    intercept[java.io.IOException](
      Codec.mapper.readValue("""{"schema": ""}""", classOf[ViewStore.ViewRecord]))
    assert(Codec.mapper.readValue("""{"sql": "SELECT 1"}""", classOf[ViewStore.ViewRecord]) ==
      ViewStore.ViewRecord("SELECT 1", "", "", Nil, Nil, Nil, Nil, Map.empty))
  }

  test("a table committed in the parent layout reads back the same rows") {
    val io = TableIO(spark, Files.createTempDirectory("graft_codec_rows_").toString)
    val t = "default.legacy_rows"
    io.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").coalesce(1), t)
    io.append(Seq((4L, "d")).toDF("id", "s").coalesce(1), t)
    io.deleteWhereMOR(t, col("id") === 2L)
    val v = io.catalog.currentVersion(t).get
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expected = rows(io.read(t))
    assert(expected == Set((1L, "a"), (3L, "c"), (4L, "d")))
    val head = io.catalog.snapshot(t, v)
    val deletes = io.catalog.pendingDeletes(t, v)
    assert(deletes.nonEmpty, "fixture must carry pending deletes")

    // the head rewritten by the parent's emitter: its string escape,
    // flat prop pairs, and pipe-packed stats whose range (id in
    // [1000, 1000]) would prune every file if it were still read
    def lit(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def arr(xs: Seq[String]): String = xs.map(lit).mkString("[", ", ", "]")
    val root = Paths.get(io.catalog.pathOf(t)).toAbsolutePath.normalize
    val files = head.files.map(f => root.relativize(Paths.get(f)).toString)
    val props = (head.props + ("streamBatchId:sink-1" -> "41")).toSeq.sortBy(_._1)
      .flatMap { case (k, p) => Seq(k, p) }
    val stats = files.indices.map(i => s"$i|i|0|1|1000|1000|aWQ=")
    val metaDir: Path = io.catalog.metaPath(t)
    Files.writeString(metaDir.resolve(s"v$v.json"),
      s"""{"files": ${arr(files)}, "props": ${arr(props)}, "stats": ${arr(stats)}}""")
    Files.writeString(metaDir.resolve("meta.json"), """{"renames": ["label", "s"], "dropped": ["gone"]}""")
    Files.writeString(metaDir.resolve("tags.json"), """{"tags": ["before-delete", "2"]}""")

    assert(io.catalog.manifest(t, v) == head.files)
    assert(io.catalog.pendingDeletes(t, v) == deletes)
    assert(io.catalog.manifestStats(t, v).isEmpty, "pipe-packed stats are ignored")
    assert(io.catalog.streamBatchMark(t, "streamBatchId:sink-1").contains(41L))
    assert(io.catalog.droppedCols(t) == Seq("gone"))
    assert(io.read(t).columns.toSeq == Seq("id", "label"))
    assert(rows(io.read(t)) == expected)
    assert(io.read(t).where(col("id") === 1L).count() == 1L)
    assert(io.readTag(t, "before-delete").count() == 4L)
  }
}
