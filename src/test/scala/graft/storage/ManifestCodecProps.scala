package graft.storage

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Round-trip contract of the manifest codec: writer and reader share
  * one escaping discipline (a real JSON parser — Spark's bundled
  * json4s), so ANY path / operation string survives — including the
  * `]`, `"` and `\` characters the round-13 regex reader was sensitive
  * to. */
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

  private val manifest: Gen[SnapshotStore.Manifest] = for {
    v <- Gen.choose(1L, 99999999L)
    op <- nonEmptyNasty
    files <- Gen.listOf(nonEmptyNasty).map(_.distinct)
    stats <- Gen.mapOfN(2, Gen.zip(nonEmptyNasty, fileStats))
    // the schema field is an opaque string to the codec (StructType JSON
    // in production) — round-trip it as arbitrary nasty content
    schema <- Gen.option(nonEmptyNasty)
    bloomCols <- Gen.listOf(nonEmptyNasty).map(_.distinct)
    droppedCols <- Gen.listOf(nonEmptyNasty).map(_.distinct)
  } yield SnapshotStore.Manifest(v, op, files, stats, schema,
    bloomCols = bloomCols, droppedCols = droppedCols)

  property("parse(render(m)) == m for arbitrary path/op/stats strings") =
    forAll(manifest) { m =>
      SnapshotStore.parse(SnapshotStore.renderForTest(m)) == m
    }

  property("a path containing ']' survives (the round-13 regex trap)") = {
    val m = SnapshotStore.Manifest(7L, "op]x",
      Seq("/tmp/a]b/part-0.parquet", "/tmp/c\"d\\e/part-1.parquet"),
      Map("/tmp/a]b/part-0.parquet" ->
        SnapshotStore.FileStats(3L, Map("s" ->
          SnapshotStore.ColStats("string", Some("min]\""), Some("max\\"))))))
    SnapshotStore.parse(SnapshotStore.renderForTest(m)) == m
  }
}
