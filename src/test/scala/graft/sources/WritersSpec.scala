package graft.sources

import graft.{SparkSpec, Tables}
import graft.cdc.CdcEnvelope
import graft.operators.KeyStrategy
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Write→read-back contract for the whole T1-T7 serializer/compression/
  * key-strategy matrix (mirror of the reference's per-format×compression
  * integration tests, s3_integration_test.rs:73-360). */
class WritersSpec extends SparkSpec {

  private val writersOut = s"$outRoot/test-out/writers"

  private lazy val env = CdcEnvelope
    .envelopeOnly(CdcEnvelope.fromEvents(Tables.events(spark, sfTiny)))
    .cache()

  private val envDDL =
    "operation string, database string, collection string, " +
      "cluster_time timestamp, document_key string, full_document string, " +
      "resume_token string"

  private def canon(df: DataFrame): Seq[String] = {
    val cols = CdcEnvelope.envelopeColumns
    df.select(cols.head, cols.tail: _*)
      .collect()
      .map(r => cols.map(c => String.valueOf(r.getAs[Any](c))).mkString("|"))
      .sorted.toSeq
  }

  private lazy val want = canon(env)

  private val matrix: Seq[(OutFormat, OutCompression, KeyStrategy)] = Seq(
    (OutFormat.Jsonl, OutCompression.None, KeyStrategy.HivePartitioned),
    (OutFormat.Jsonl, OutCompression.Gzip, KeyStrategy.HivePartitioned),
    (OutFormat.Jsonl, OutCompression.Zstd, KeyStrategy.CollectionBased),
    (OutFormat.Csv, OutCompression.None, KeyStrategy.DatePartitioned),
    (OutFormat.Csv, OutCompression.Gzip, KeyStrategy.CollectionBased),
    (OutFormat.Csv, OutCompression.Zstd, KeyStrategy.Flat),
    (OutFormat.Parquet, OutCompression.Snappy, KeyStrategy.HivePartitioned),
    (OutFormat.Parquet, OutCompression.Zstd, KeyStrategy.Flat),
    (OutFormat.Parquet, OutCompression.Gzip, KeyStrategy.DateHourPartitioned),
    (OutFormat.Avro, OutCompression.None, KeyStrategy.CollectionBased),
    (OutFormat.Avro, OutCompression.Gzip, KeyStrategy.Flat),
    (OutFormat.Avro, OutCompression.Zstd, KeyStrategy.CollectionBased))

  for ((fmt, comp, strat) <- matrix) {
    test(s"round-trip ${fmt.name} × ${comp.name} × ${strat.getClass.getSimpleName.stripSuffix("$")}") {
      val path = s"$writersOut/${fmt.name}-${comp.name}-${strat.getClass.getSimpleName.stripSuffix("$")}"
      Writers.write(env, path, fmt, comp, strat)
      val back = Writers.read(spark, path, fmt, Some(envDDL))
      assert(canon(back) === want)
    }
  }

  test("hive layout on disk matches the reference key scheme") {
    val path = s"$writersOut/layout-check"
    Writers.write(env, path, OutFormat.Jsonl, OutCompression.Gzip,
      KeyStrategy.HivePartitioned)
    // expect .../collection=c_0/year=YYYY/month=M/day=D/hour=H/part-*.json.gz
    val stream = Files.walk(Paths.get(path))
    val leaf = try {
      val it = stream.iterator()
      var found: Option[String] = None
      while (it.hasNext && found.isEmpty) {
        val p = it.next()
        if (p.toString.endsWith(".json.gz")) found = Some(p.toString)
      }
      found
    } finally stream.close()
    assert(leaf.isDefined, "no compressed jsonl part files written")
    val rel = leaf.get.stripPrefix(path + "/")
    assert(rel.matches("collection=[^/]+/year=\\d+/month=\\d+/day=\\d+/hour=\\d+/part-.*"),
      s"unexpected layout: $rel")
  }

  test("partitioned layout is partition-prunable on read (scan skips other keys)") {
    val path = s"$writersOut/prune-check"
    Writers.write(env, path, OutFormat.Parquet, OutCompression.Snappy,
      KeyStrategy.CollectionBased)
    val one = Writers.read(spark, path, OutFormat.Parquet)
      .filter(col("collection") === "c_1")
    val scan = one.queryExecution.executedPlan.toString
    // Spark reports partition pruning in the scan node
    assert(scan.contains("PartitionFilters: [isnotnull(collection"),
      s"partition filter not pushed:\n$scan")
    assert(one.count() === env.filter(col("collection") === "c_1").count())
  }

  test("skewed partition key fans out to multiple bounded files, not one giant") {
    // 90% of rows in one collection: the salted shuffle must spread the hot
    // key over >1 writer task (no single-core serialization) while keeping
    // file count per key <= maxFilesPerKey (no small-files explosion).
    import spark.implicits._
    val maxFiles = 4
    val skewed = (0 until 20000).map { i =>
      (if (i % 10 == 0) s"c_${i % 4}" else "c_hot", s"doc-$i", i.toLong)
    }.toDF("collection", "document_key", "seq")
    val path = s"$writersOut/skew-check"
    // tiny targetFileBytes forces the adaptive salt to its maxFilesPerKey
    // ceiling — the regime a hot key hits at production volume
    Writers.write(skewed, path, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.CollectionBased, maxFilesPerKey = maxFiles,
      targetFileBytes = 1024)
    def filesUnder(key: String): Seq[String] = {
      val dir = Paths.get(s"$path/collection=$key")
      val stream = Files.walk(dir)
      try {
        val it = stream.iterator()
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val p = it.next().toString
          if (p.contains("/part-")) out += p
        }
        out.toSeq
      } finally stream.close()
    }
    val hot = filesUnder("c_hot")
    assert(hot.size > 1, s"hot key serialized through one task: $hot")
    assert(hot.size <= maxFiles, s"file count per key not bounded: $hot")
    // every row still lands exactly once
    val back = Writers.read(spark, path, OutFormat.Jsonl,
      Some("collection string, document_key string, seq long"))
    assert(back.count() === 20000)
    assert(back.filter(col("collection") === "c_hot").count() === 18000)

    // and the flip side: at the default 128 MiB target this small write
    // must NOT salt — one file per key, no tiny-file multiplication
    val smallPath = s"$writersOut/skew-check-small"
    Writers.write(skewed, smallPath, OutFormat.Jsonl, OutCompression.None,
      KeyStrategy.CollectionBased, maxFilesPerKey = maxFiles)
    def filesAt(base: String, key: String): Int = {
      val stream = Files.walk(Paths.get(s"$base/collection=$key"))
      try stream.iterator().asScala.count(_.toString.contains("/part-"))
      finally stream.close()
    }
    assert(filesAt(smallPath, "c_hot") === 1,
      "small write multiplied files despite volume below target size")
  }

  test("avro honors save modes: append adds, errorifexists refuses, ignore skips") {
    val path = s"$writersOut/avro-modes"
    val half1 = env.filter(col("operation") === "purchase")
    val half2 = env.filter(col("operation") =!= "purchase")
    Writers.write(half1, path, OutFormat.Avro, OutCompression.None, KeyStrategy.Flat)
    val n1 = Writers.read(spark, path, OutFormat.Avro, Some(envDDL)).count()
    assert(n1 === half1.count())
    // append must ADD, not destroy (the old sink deleted the target dir)
    Writers.write(half2, path, OutFormat.Avro, OutCompression.None,
      KeyStrategy.Flat, mode = "append")
    val all = Writers.read(spark, path, OutFormat.Avro, Some(envDDL))
    assert(all.count() === env.count(), "append destroyed or duplicated data")
    assert(canon(all) === want)
    intercept[IllegalStateException] {
      Writers.write(half1, path, OutFormat.Avro, OutCompression.None,
        KeyStrategy.Flat, mode = "errorifexists")
    }
    Writers.write(half1, path, OutFormat.Avro, OutCompression.None,
      KeyStrategy.Flat, mode = "ignore") // no-op on a non-empty target
    assert(Writers.read(spark, path, OutFormat.Avro, Some(envDDL)).count() === env.count())
    // no leftover hidden temp files after the commit renames
    val temps = Files.walk(Paths.get(path)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".tmp")).toSeq
    assert(temps.isEmpty, s"uncommitted temps left behind: $temps")
  }

  test("avro read-back recovers directory partition columns like the other formats") {
    val path = s"$writersOut/avro-parts"
    // fresh dir: the append leg below would otherwise accumulate across runs
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    // a FileDestination-style layout: batch_id dirs above the key layout
    Writers.write(env.limit(20), s"$path/batch_id=000003", OutFormat.Avro,
      OutCompression.None, KeyStrategy.CollectionBased)
    Writers.write(env.limit(10), s"$path/batch_id=000007", OutFormat.Avro,
      OutCompression.None, KeyStrategy.CollectionBased, mode = "append")
    val back = Writers.read(spark, path, OutFormat.Avro, Some(envDDL))
    assert(back.columns.contains("batch_id"),
      s"partition column lost: ${back.columns.toSeq}")
    // integer-typed like the engine's partition discovery; collection stays
    // the RECORD field (no duplicate column)
    val byBatch = back.groupBy("batch_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byBatch === Map(3 -> 20L, 7 -> 10L))
    assert(back.columns.count(_ == "collection") === 1)
  }

  test("avro empty layout reads back as an empty frame when a schema shapes it") {
    val path = s"$writersOut/avro-empty"
    Writers.write(env.filter(lit(false)), path, OutFormat.Avro,
      OutCompression.None, KeyStrategy.Flat)
    val back = Writers.read(spark, path, OutFormat.Avro, Some(envDDL))
    assert(back.count() === 0)
    assert(back.schema.fieldNames.toSeq ===
      org.apache.spark.sql.types.StructType.fromDDL(envDDL).fieldNames.toSeq)
    intercept[IllegalArgumentException] {
      Writers.read(spark, path, OutFormat.Avro, None)
    }
  }

  test("zstd codec finish() terminates the frame without closing the raw stream") {
    val codec = new ZstdCodec
    val raw = new java.io.ByteArrayOutputStream()
    val z = codec.createOutputStream(raw)
    val payload = ("line one\n" * 500).getBytes("UTF-8")
    z.write(payload, 0, payload.length)
    z.finish() // contract: frame complete, raw stream STILL OPEN
    raw.write(0) // proves the raw stream survived finish()
    val bytes = raw.toByteArray.dropRight(1)
    val in = new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    assert(out.toByteArray.sameElements(payload),
      "finish()-terminated frame did not decompress to the original payload")
  }

  test("format metadata matches the reference's extensions and content types") {
    assert(OutFormat.Jsonl.extension === ".jsonl")
    assert(OutFormat.Csv.contentType === "text/csv")
    assert(OutFormat.Parquet.extension === ".parquet")
    assert(OutFormat.Avro.contentType === "application/avro")
    assert(OutCompression.Gzip.suffix === ".gz")
    assert(OutCompression.Zstd.suffix === ".zst")
  }

  private def dataFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))

  test("compaction: fragmented dirs bin-pack to ceil(bytes/target), lossless, idempotent") {
    val path = s"$writersOut/compact"
    Writers.write(env, path, OutFormat.Parquet, OutCompression.Zstd,
      KeyStrategy.CollectionBased, filesPerKeyHint = Some(8))
    val keyDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("collection="))
    assert(keyDirs.nonEmpty)
    keyDirs.foreach(d => assert(dataFiles(d).length > 1,
      s"fixture must start fragmented: ${d.getName}"))

    val report = Compaction.compact(spark, path, OutFormat.Parquet,
      OutCompression.Zstd, targetFileBytes = 64L << 20).collect()
    assert(report.length === keyDirs.length)
    report.foreach { r =>
      assert(r.getBoolean(4), s"every dir was fragmented: $r")
      // tiny fixture bytes << 64 MB target → exactly one file per dir
      assert(r.getInt(3) === 1, s"expected 1 file after: $r")
      assert(r.getInt(1) > 1)
    }
    // on-disk state matches the report; tmp dir is gone
    keyDirs.foreach { d =>
      val fs = dataFiles(d)
      assert(fs.length === 1, s"${d.getName}: ${fs.map(_.getName)}")
      assert(fs.head.getName.startsWith("compacted-"))
    }
    assert(!new java.io.File(path, ".compact-tmp").exists())
    // losslessness: the compacted layout reads back byte-identical rows
    assert(canon(Writers.read(spark, path, OutFormat.Parquet,
      Some(envDDL))) === want)
    // idempotence: a second run rewrites nothing
    val again = Compaction.compact(spark, path, OutFormat.Parquet,
      OutCompression.Zstd, targetFileBytes = 64L << 20).collect()
    assert(again.forall(r => !r.getBoolean(4) && r.getInt(1) === 1))
  }

  test("parallel compaction == sequential: same report shape, lossless") {
    val seqPath = s"$writersOut/compact-par-seq"
    val parPath = s"$writersOut/compact-par-par"
    Seq(seqPath, parPath).foreach(p => Writers.write(env, p,
      OutFormat.Parquet, OutCompression.Zstd, KeyStrategy.CollectionBased,
      filesPerKeyHint = Some(8)))
    def rep(p: String, par: Int) = Compaction.compact(spark, p,
        OutFormat.Parquet, OutCompression.Zstd,
        targetFileBytes = 64L << 20, parallelism = par)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getBoolean(4))).toSeq
    val a = rep(seqPath, 1)
    val b = rep(parPath, 4)
    assert(a === b, "parallel pool must produce the sequential report")
    assert(b.forall(_._5), "fixture must actually compact")
    assert(canon(Writers.read(spark, parPath, OutFormat.Parquet,
      Some(envDDL))) === want)
  }

  test("compaction is selective: already-compact dirs are not rewritten") {
    val path = s"$writersOut/compact-selective"
    Writers.write(env, path, OutFormat.Parquet, OutCompression.Zstd,
      KeyStrategy.CollectionBased, filesPerKeyHint = Some(6))
    // pre-compact ONE key dir to a single file by hand
    val keyDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("collection="))
      .sortBy(_.getName)
    val pre = keyDirs.head
    Compaction.compact(spark, pre.getPath, OutFormat.Parquet,
      OutCompression.Zstd, targetFileBytes = 64L << 20)
    val preFile = dataFiles(pre).head
    val preModified = preFile.lastModified()

    val report = Compaction.compact(spark, path, OutFormat.Parquet,
      OutCompression.Zstd, targetFileBytes = 64L << 20)
      .collect().map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(report(pre.getName) === false,
      "already-compact dir must be skipped")
    assert(report.count(_._2) === keyDirs.length - 1)
    // the skipped dir's file was never touched
    assert(dataFiles(pre).head.getName === preFile.getName)
    assert(dataFiles(pre).head.lastModified() === preModified)
    assert(canon(Writers.read(spark, path, OutFormat.Parquet,
      Some(envDDL))) === want)
  }

  test("compaction packs a jsonl+gzip layout too (text formats share the path)") {
    val path = s"$writersOut/compact-jsonl"
    // Flat layout has no partition columns, so the writer's salt never
    // engages — fragment via the input partitioning instead (exactly how
    // a many-task streaming job fragments a flat sink)
    Writers.write(env.repartition(8), path, OutFormat.Jsonl,
      OutCompression.Gzip, KeyStrategy.Flat)
    val before = dataFiles(new java.io.File(path))
    assert(before.length > 1)
    val r = Compaction.compact(spark, path, OutFormat.Jsonl,
      OutCompression.Gzip, targetFileBytes = 64L << 20)
      .collect()
    assert(r.length === 1 && r.head.getBoolean(4) && r.head.getInt(3) === 1)
    assert(canon(Writers.read(spark, path, OutFormat.Jsonl,
      Some(envDDL))) === want)
  }
}
