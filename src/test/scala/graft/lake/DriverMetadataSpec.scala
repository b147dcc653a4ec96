package graft.lake

import java.nio.file.Files

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkJobCounter, SparkTest}
import graft.config.PartitionSpec
import graft.functions.{NdvFns, QuantileFns, TopKFns}
import graft.query.{ScanAudit, Views}

/** The mutation path's metadata work runs on the driver: compaction
  * planning, sidecar reads, partition-column sidecar rows and footer
  * stats for streamed files. Zero-job pins via [[SparkJobCounter]],
  * plus the equivalence contract for every driver-built answer.
  */
class DriverMetadataSpec extends AnyFunSuite with SparkTest {

  private def newLake(): Lake =
    Lake(Files.createTempDirectory("graft_drvmeta").toString)

  /** Enriched rows over two months; `idx` feeds tp_index. */
  private def batch(n: Int, idx: Column, lo: Long = 0L): DataFrame = {
    val raw = spark.range(lo, lo + n).select(
      col("id").as("event_id"),
      expr("timestamp '2024-01-05 00:00:00' + " +
        "make_interval(0,0,0,0,0,0, id * 40000)").as("tp_timestamp"),
      idx.as("idx"),
      (col("id") * 1.5).as("v"))
    TpSchema.enrich(raw, PartitionSpec("t", "p0",
      tpIndexColumn = Some("idx")))
  }

  private def strIdx = concat(lit("k"), (col("id") % 3).cast("string"))

  test("a compact at its fixed point runs zero Spark jobs") {
    val lake = newLake()
    lake.append(spark, "t", batch(60, strIdx))
    lake.append(spark, "t", batch(60, strIdx, lo = 60))
    val (b0, a0) = Maintenance.compact(spark, lake, "t")
    assert(a0 < b0)
    val ((b1, a1), jobs) =
      SparkJobCounter.count(spark)(Maintenance.compact(spark, lake, "t"))
    assert(b1 == a1 && b1 == a0)
    assert(jobs === 0, "no-op compact planning must not launch jobs")
    assert(Maintenance.lastCompactPlan.collectedRows === 0L)
    Maintenance.compactAligned(spark, lake, "t")
    val ((b2, a2), alignedJobs) = SparkJobCounter.count(spark)(
      Maintenance.compactAligned(spark, lake, "t"))
    assert(b2 == a2)
    assert(alignedJobs === 0)
  }

  test("a metaSnapshot rebuild runs zero Spark jobs and equals the " +
      "sidecar Spark reads") {
    val lake = newLake()
    lake.append(spark, "t", batch(60, strIdx))
    lake.enableColumnStats(spark, "t", Seq("v", "event_id", "tp_index"))
    lake.append(spark, "t", batch(60, strIdx, lo = 60))
    val misses = Lake.metaCacheStats(lake.root, "t")._2
    val (snap, jobs) =
      SparkJobCounter.count(spark)(lake.metaSnapshot(spark, "t"))
    assert(Lake.metaCacheStats(lake.root, "t")._2 === misses + 1)
    assert(jobs === 0)
    val viaSpark = spark.read.parquet(s"${lake.tableDir("t")}/_graft_colstats")
      .groupBy("file", "column")
      .agg(max_by(struct(col("nulls"), col("n"), col("min_d"),
        col("max_d"), col("min_s"), col("max_s"), col("sum_v")),
        col("seq")).as("s"))
      .select(col("file"), col("column"), col("s.*")).collect()
      .map { r =>
        (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3),
          Option(r.get(4)), Option(r.get(5)), Option(r.getString(6)),
          Option(r.getString(7)),
          Option(r.getDecimal(8)).map(d => BigInt(d.toBigInteger))))
      }.toMap
    val direct = snap.sidecar.map { case (k, s) =>
      k -> ((s.nulls, s.n, s.minD, s.maxD, s.minS, s.maxS, s.sumV))
    }
    assert(direct.keySet.map(_._2) === Set("v", "event_id", "tp_index"))
    assert(direct === viaSpark)
  }

  test("an append whose stats columns are all partition columns runs " +
      "only the write's jobs") {
    val armed = newLake()
    val plain = newLake()
    armed.enableColumnStats(spark, "t", Seq("tp_index", "tp_year"))
    val b = batch(90, strIdx)
    val (_, armedJobs) = SparkJobCounter.count(spark)(
      armed.append(spark, "t", b))
    val (_, plainJobs) = SparkJobCounter.count(spark)(
      plain.append(spark, "t", b))
    assert(armedJobs === plainJobs)
    val sidecar = armed.metaSnapshot(spark, "t").sidecar
    assert(sidecar.keySet.map(_._2) === Set("tp_index", "tp_year"))
    assert(sidecar.keySet.map(_._1) ===
      armed.liveFiles(spark, "t").map(_.file).toSet)
  }

  test("driver-built partition-column sidecar rows equal the scan-built " +
      "rows: string, numeric-looking and default-partition tp_index") {
    val cases = Seq(
      "str" -> batch(90, strIdx),
      "num" -> batch(90, (col("id") % 3 * 11 + 1).cast("string")),
      // a null tp_index lands in the default partition dir
      "mixed" -> batch(90, (col("id") % 3).cast("string"))
        .withColumn(TpSchema.Index, when(col("event_id") % 3 === 0,
          lit(null).cast("string")).otherwise(col(TpSchema.Index))),
      "allnull" -> batch(40, strIdx)
        .withColumn(TpSchema.Index, lit(null).cast("string")))
    cases.foreach { case (t, df) =>
      val lake = newLake()
      lake.append(spark, t, df)
      lake.append(spark, t, df.withColumn("event_id", col("event_id") + 1000))
      val files = lake.liveFiles(spark, t).map(r => r.file -> r.rows)
      val cols = Seq(TpSchema.Index, TpSchema.Year)
      val (driver, unserved) =
        lake.partitionColStats(spark, t, files, cols, seqNo = 7L)
      assert(unserved.isEmpty, t)
      val scanned = lake.scanColStats(spark, t, files.map(_._1), cols, 7L)
      def byKey(rs: Seq[ManifestIO.CRow]) =
        rs.map(r => (r.file, r.column) -> r).toMap
      val (d, s) = (byKey(driver), byKey(scanned))
      assert(d.keySet === s.keySet && d.size === files.size * cols.size, t)
      d.foreach { case (k, a) =>
        val b = s(k)
        assert((a.nulls, a.n, a.sumLen, a.maxLen, a.minD, a.maxD, a.minS,
          a.maxS, a.sumV, a.seq) === (b.nulls, b.n, b.sumLen, b.maxLen,
          b.minD, b.maxD, b.minS, b.maxS, b.sumV, b.seq), s"$t $k")
        assert(a.kll.isDefined === b.kll.isDefined, s"$t $k kll")
        assert(a.mg.isDefined === b.mg.isDefined, s"$t $k mg")
        assert(a.sketch.map(NdvFns.blobEstimate) ===
          b.sketch.map(NdvFns.blobEstimate), s"$t $k ndv")
      }
      if (t == "num")
        assert(d.values.filter(_.column == TpSchema.Index)
          .forall(r => r.minD.isDefined && r.minS.isEmpty),
          "an all-numeric tp_index is typed as INT, as the scan reads it")
      cols.foreach { c =>
        def of(m: Map[(String, String), ManifestIO.CRow]) =
          m.collect { case ((_, cc), r) if cc == c => r }.toSeq
        assert(NdvFns.unionEstimate(of(d).flatMap(_.sketch)) ===
          NdvFns.unionEstimate(of(s).flatMap(_.sketch)), s"$t $c merged ndv")
        assert(TopKFns.topK(TopKFns.mergeBlobs(of(d).flatMap(_.mg)), 10) ===
          TopKFns.topK(TopKFns.mergeBlobs(of(s).flatMap(_.mg)), 10),
          s"$t $c top-k")
        val (kd, ks) = (QuantileFns.mergeBlobs(of(d).flatMap(_.kll)),
          QuantileFns.mergeBlobs(of(s).flatMap(_.kll)))
        def n(b: Array[Byte]) = KllDoublesSketch.heapify(Memory.wrap(b)).getN
        assert(n(kd) === n(ks), s"$t $c kll n")
        Seq(0.0, 0.25, 0.5, 0.75, 1.0).foreach(p =>
          assert(QuantileFns.blobQuantile(kd, p) ===
            QuantileFns.blobQuantile(ks, p), s"$t $c q$p"))
      }
    }
  }

  test("readColStats reads the sidecar vintages Spark wrote, including " +
      "pre-KLL parts and decimal(38,0) sums") {
    val dir = Files.createTempDirectory("graft_cs_vintage").toString
    import spark.implicits._
    // pre-KLL / pre-sum / pre-mg vintage: only the r15 columns
    Seq(("/d/f1", "c", Array[Byte](1, 2), 0L, 5L, 1L))
      .toDF("file", "column", "sketch", "nulls", "n", "seq")
      .write.parquet(s"$dir/old")
    val old = ManifestIO.readColStats(spark.sessionState.newHadoopConf(),
      s"$dir/old")
    assert(old.map(r => (r.file, r.n, r.kll, r.mg, r.sumV)) ===
      Seq(("/d/f1", 5L, None, None, None)))
    // current vintage: newest seq per (file, column); sums past Long
    // range and negative sums survive the 16-byte FLBA round trip
    val big = BigInt("-123456789012345678901234567890")
    Seq(("/d/f1", "c", 1L, "1"), ("/d/f1", "c", 2L, big.toString),
      ("/d/f2", "c", 1L, null))
      .toDF("file", "column", "seq", "sv")
      .select(col("file"), col("column"), lit(Array[Byte](9)).as("sketch"),
        lit(0L).as("nulls"), lit(3L).as("n"),
        col("sv").cast("decimal(38,0)").as("sum_v"), col("seq"))
      .write.parquet(s"$dir/cur")
    val cur = ManifestIO.readColStats(spark.sessionState.newHadoopConf(),
      s"$dir/cur").map(r => r.file -> (r.seq, r.sumV)).toMap
    assert(cur === Map("/d/f1" -> ((2L, Some(big))), "/d/f2" -> ((1L, None))))
    // a direct-written part mixes with the Spark-written one under both
    // readers
    ManifestIO.writeColStats(spark.sessionState.newHadoopConf(), s"$dir/cur",
      Seq(ManifestIO.CRow("/d/f3", "c", Some(Array[Byte](1)), 0L, 2L, None, None,
        None, None, None, None, None, None, Some(big), 5L)))
    val mixed = spark.read.parquet(s"$dir/cur")
    assert(mixed.count() === 4L)
    assert(BigInt(mixed.where(col("file") === "/d/f3").select("sum_v")
      .head().getDecimal(0).toBigInteger) === big)
    assert(ManifestIO.readColStats(spark.sessionState.newHadoopConf(),
      s"$dir/cur").size === 3)
  }

  test("a streamed file's footer is INT64 TIMESTAMP(MICROS) with stats") {
    val root = Files.createTempDirectory("graft_stream_ts").toString
    val inbox = s"$root/inbox"
    new java.io.File(inbox).mkdirs()
    val w = new java.io.PrintWriter(s"$inbox/c0.json")
    try Seq(
      """{"id": 1, "ts": "2024-03-01 10:00:00"}""",
      """{"id": 2, "ts": "2024-03-01 11:00:00"}""").foreach(w.println)
    finally w.close()
    val lake = Lake(s"$root/lake")
    val schema = graft.ingest.SchemaInference.inferJson(spark,
      Seq(s"$inbox/c0.json"))
    graft.streaming.StreamIngest.collectStream(spark, lake,
      PartitionSpec("st", "live"), inbox, schema, s"$root/ckpt",
      timestampColumn = "ts").awaitTermination()
    val files = lake.dataFiles(spark, "st")
    assert(files.nonEmpty)
    files.foreach { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(f), spark.sessionState.newHadoopConf()))
      val t = try {
        val schema = r.getFooter.getFileMetaData.getSchema
        schema.getType(schema.getFieldIndex(TpSchema.Timestamp))
          .asPrimitiveType
      } finally r.close()
      assert(t.getPrimitiveTypeName === PrimitiveType.PrimitiveTypeName.INT64)
      assert(t.getLogicalTypeAnnotation ===
        LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.MICROS))
    }
    assert(lake.liveFiles(spark, "st").forall(_.minTs.isDefined),
      "footer stats recorded the streamed files' time ranges")
  }

  test("count(*), min/max(tp_timestamp) and min/max(tp_date) are " +
      "manifest-served with no tp_timestamp sidecar row") {
    val lake = newLake()
    lake.append(spark, "mt", batch(60, strIdx))
    lake.append(spark, "mt", batch(60, strIdx, lo = 60))
    // stats armed on another column only: still no tp_timestamp row
    lake.enableColumnStats(spark, "mt", Seq("v"))
    Views.register(spark, lake, Views.Filters())
    val plain = spark.read.option("basePath", lake.tableDir("mt"))
      .parquet(lake.tableDir("mt"))
    val q = spark.sql("SELECT count(*) AS n, min(tp_timestamp) AS lo, " +
      "max(tp_timestamp) AS hi, min(tp_date) AS dlo, max(tp_date) AS dhi " +
      "FROM mt")
    assert(ScanAudit.filesReadAfterRun(q) === 0)
    assert(q.head() === plain.agg(count(lit(1)), min("tp_timestamp"),
      max("tp_timestamp"), min("tp_date"), max("tp_date")).head())
    // a COUNT of the column still needs its sidecar null counts
    val counted = spark.sql("SELECT count(tp_timestamp) FROM mt")
    assert(ScanAudit.filesReadAfterRun(counted) > 0)
    assert(counted.head().getLong(0) === 120L)
  }
}
