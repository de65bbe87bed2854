package graft.storage

import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Round-trip contract of the log-entry codec (one action delta per
  * commit): writer and reader share one escaping discipline (a real
  * JSON parser — Spark's bundled json4s), so ANY path / operation
  * string survives — including the `]`, `"` and `\` characters the
  * round-13 regex reader was sensitive to. */
object ManifestCodecProps extends Properties("graft.storage.manifest-codec") {

  // strings biased toward the characters that break naive codecs
  private val nastyChar: Gen[Char] = Gen.frequency(
    6 -> Gen.alphaNumChar,
    3 -> Gen.oneOf(']', '[', '"', '\\', '{', '}', ',', ':', '/', '.', '-'),
    1 -> Gen.oneOf('\n', '\t', ' ', 'é', '漢', '→'))
  private val nastyString: Gen[String] =
    Gen.listOf(nastyChar).map(_.mkString)
  private val nonEmptyNasty: Gen[String] =
    Gen.nonEmptyListOf(nastyChar).map(_.mkString)

  private val statVal: Gen[Option[Any]] = Gen.oneOf(
    Gen.const(None),
    Gen.choose(Long.MinValue, Long.MaxValue).map(v => Some(v)),
    Gen.choose(-1e12, 1e12).map(v => Some(v)),
    nastyString.map(v => Some(v)),
    Gen.oneOf(true, false).map(v => Some(v)))

  private val colStats: Gen[(String, SnapshotStore.ColStats)] = for {
    name <- nonEmptyNasty
    t <- Gen.oneOf("bigint", "double", "string", "boolean", "timestamp")
    mn <- statVal
    mx <- statVal
  } yield name -> SnapshotStore.ColStats(t, mn, mx)

  // a bloom is a sidecar POINTER (path + ordinal, no inline bytes); it
  // must round-trip exactly — nasty path strings included
  private val bloomStats: Gen[(String, SnapshotStore.BloomStats)] = for {
    name <- nonEmptyNasty
    t <- Gen.oneOf("bigint", "int", "string")
    sc <- nonEmptyNasty
    ord <- Gen.choose(0L, Long.MaxValue)
  } yield name -> SnapshotStore.BloomStats(t, sc, ord)

  private val fileStats: Gen[SnapshotStore.FileStats] = for {
    rows <- Gen.choose(0L, Long.MaxValue)
    cols <- Gen.mapOfN(3, colStats)
    bytes <- Gen.choose(0L, Long.MaxValue)
    blooms <- Gen.mapOfN(2, bloomStats)
  } yield SnapshotStore.FileStats(rows, cols, bytes, blooms)

  // a recorded schema: nasty field names at the stats-supported types,
  // some carrying a column-mapping physical name in their metadata
  private val field: Gen[StructField] = for {
    name <- nonEmptyNasty
    t <- Gen.oneOf[DataType](LongType, IntegerType, DoubleType, StringType,
      BooleanType, DateType, DecimalType(12, 2))
    nullable <- Gen.oneOf(true, false)
    physical <- Gen.option(nonEmptyNasty)
  } yield StructField(name, t, nullable, physical.map(p =>
    new MetadataBuilder().putString(SnapshotStore.PhysicalNameKey, p).build())
    .getOrElse(Metadata.empty))
  private val recordedSchema: Gen[StructType] =
    Gen.listOf(field).map(fs => StructType(fs.distinctBy(_.name)))

  private val dvRef: Gen[(String, SnapshotStore.DvRef)] = for {
    f <- nonEmptyNasty
    p <- nonEmptyNasty
    n <- Gen.choose(0L, Long.MaxValue)
  } yield f -> SnapshotStore.DvRef(p, n)

  private val delta: Gen[SnapshotStore.CommitDelta] = for {
    v <- Gen.choose(1L, 99999999L)
    op <- nonEmptyNasty
    ts <- Gen.choose(1L, Long.MaxValue)
    adds <- Gen.listOf(Gen.zip(nonEmptyNasty, fileStats))
      .map(_.distinctBy(_._1))
    removes <- Gen.listOf(nonEmptyNasty).map(_.distinct)
    schema <- recordedSchema
    partitionCols <- Gen.listOf(nonEmptyNasty).map(_.distinct)
    bloomCols <- Gen.listOf(nonEmptyNasty).map(_.distinct)
    dvs <- Gen.mapOfN(2, dvRef)
    droppedCols <- Gen.listOf(nonEmptyNasty).map(_.distinct)
    properties <- Gen.mapOfN(2, Gen.zip(nonEmptyNasty, nastyString))
  } yield SnapshotStore.CommitDelta(v, op, ts, schema, partitionCols,
    bloomCols, adds, removes, dvs, droppedCols, properties)

  property("parseRaw(renderDelta(d)) == d for arbitrary path/op/stats " +
    "strings") =
    forAll(delta) { d =>
      SnapshotStore.parseRaw(SnapshotStore.renderDelta(d)) == d
    }

  property("a path containing ']' survives (the round-13 regex trap)") = {
    val d = SnapshotStore.CommitDelta(7L, "op]x", 1L,
      StructType(Seq(StructField("s]\"", StringType))), Seq.empty,
      Seq.empty,
      adds = Seq(
        "/tmp/a]b/part-0.parquet" -> SnapshotStore.FileStats(3L,
          Map("s" -> SnapshotStore.ColStats("string", Some("min]\""),
            Some("max\\"))), 512L),
        "/tmp/c\"d\\e/part-1.parquet" ->
          SnapshotStore.FileStats(0L, Map.empty, 64L)),
      removes = Seq("/tmp/old]/part-9.parquet"), dvs = Map.empty)
    SnapshotStore.parseRaw(SnapshotStore.renderDelta(d)) == d
  }
}
