package graft

import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = graft.core.Tables(spark, sf("sf0.001"), "documents")

  test("attachBinary preserves byte length in metadata") {
    val m = Multimodal.attachBinary(docs)
    val bad = m.filter(org.apache.spark.sql.functions.expr("meta.n_bytes <> length(media)")).count()
    assert(bad == 0)
    assert(m.count() == docs.count())
  }

  test("extractFeatures is deterministic and row-preserving") {
    val m = Multimodal.attachBinary(docs.limit(50))
    val f1 = Multimodal.extractFeatures(m).collect().map(x => x.media_id -> x.checksum).toMap
    val f2 = Multimodal.extractFeatures(m).collect().map(x => x.media_id -> x.checksum).toMap
    assert(f1 == f2 && f1.size == 50)
  }

  test("frames reassemble to the original payload and sample every k-th") {
    import org.apache.spark.sql.functions._
    val m = Multimodal.attachBinary(docs.limit(20))
    val framed = Multimodal.frames(m, frameBytes = 16)
    // reassembly: concat frames in order == original bytes
    val rebuilt = framed.groupBy("media_id")
      .agg(sort_array(collect_list(struct(col("frame_no"), col("frame")))).as("fs"))
      .select(col("media_id"), expr("array_join(transform(fs, f -> string(f.frame)), '')").as("txt"))
      .as[(Long, String)].collect().toMap
    val original = docs.limit(20).select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(rebuilt == original)
    // sampling keeps ceil(n/k) frames per doc
    val total = framed.count()
    val sampled = Multimodal.sampleFrames(framed, 3).count()
    assert(sampled >= total / 3 && sampled <= total / 3 + 20)
  }

  test("empty payload yields zero frames, not a descending phantom pair") {
    import org.apache.spark.sql.functions._
    val one = Seq((1L, "", 42L, "abc")).toDF("a", "b", "c", "d")
      .select(col("a").as("doc_id"), col("b").as("text"))
    val m = Multimodal.attachBinary(one)
    assert(m.head().getStruct(2).getLong(1) == 0L, "sanity: payload must be empty")
    assert(Multimodal.frames(m, frameBytes = 16).count() == 0)
  }

  test("binaryFile source ingests raw blobs into the multimodal shape") {
    // Real media arrives as FILES; Spark's binaryFile source reads each
    // as one row (path, modificationTime, length, content) with the
    // pathGlobFilter pushed to the file listing — the ingestion edge of
    // the multimodal pipeline, no custom reader needed.
    val dir = java.nio.file.Files.createTempDirectory("graft-blobs")
    val payloads = Map("a.bin" -> "alpha-payload", "b.bin" -> "bee", "skip.txt" -> "not-media")
    payloads.foreach { case (n, c) =>
      java.nio.file.Files.write(dir.resolve(n), c.getBytes("UTF-8"))
    }
    val blobs = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(dir.toString)
      .select(
        org.apache.spark.sql.functions.regexp_extract(
          org.apache.spark.sql.functions.col("path"), "([^/]+)$", 1).as("media_id"),
        org.apache.spark.sql.functions.col("content").as("media"),
        org.apache.spark.sql.functions.col("length"))
    val rows = blobs.collect().map(r => r.getString(0) -> (r.getAs[Array[Byte]](1), r.getLong(2))).toMap
    assert(rows.keySet == Set("a.bin", "b.bin"), "glob filter must exclude non-media files")
    assert(new String(rows("a.bin")._1, "UTF-8") == "alpha-payload")
    assert(rows("b.bin")._2 == 3L, "length column must match the payload size")
  }

  test("checksum matches a driver-side recompute") {
    val row = Multimodal.extractFeatures(Multimodal.attachBinary(docs.limit(1))).head()
    val text = docs.limit(1).select("text").as[String].head()
    assert(row.checksum == Multimodal.FakeDecoder.checksum(text.getBytes("UTF-8")))
    assert(row.feature.length == 4)
  }

  test("MediaDecoder contract: an injected decoder replaces the stub; open() runs once per partition") {
    import org.apache.spark.sql.functions._
    // A custom decoder proving BOTH halves of the boundary contract:
    //  - injection: checksum = payload length, feature[1] = kind length
    //    (values the stub cannot produce), flowing through the standard
    //    pipeline unchanged — the "production swap is a one-liner" claim;
    //  - amortization: open() creates a per-task counter and each row
    //    records how many rows THIS opened closure has decoded
    //    (feature[0]). If open() ran per row, every row would read 1;
    //    once per partition, the per-partition max equals that
    //    partition's row count.
    object CountingDecoder extends Multimodal.MediaDecoder {
      override def open(): (String, Array[Byte]) => (Long, Array[Float]) = {
        var seen = 0f // per-task state created by open()
        (kind, bytes) => {
          seen += 1
          (bytes.length.toLong, Array(seen, kind.length.toFloat))
        }
      }
    }
    val m = Multimodal.attachBinary(docs.limit(40)).repartition(4).persist()
    try {
      val out = Multimodal.extractFeatures(m, CountingDecoder)
      val rows = out.collect()
      assert(rows.length == 40)
      // injection: the custom semantics, not the stub's
      assert(rows.forall(r => r.checksum == r.n_bytes),
        "injected checksum rule (payload length) not in effect")
      assert(rows.forall(_.feature(1) == "text/plain".length.toFloat),
        "decoder closure did not receive the metadata kind")
      // once-per-partition: with 40 rows over 4 partitions, SOME row must
      // see a counter > 1 (per-row open() pins every value at 1); there
      // is exactly one "first row after open()" per non-empty partition;
      // and the largest counter equals the largest partition's row count
      // (that closure counted all its rows)
      val partCounts = m.select(spark_partition_id().as("p"))
        .groupBy("p").count().collect().map(_.getLong(1))
      assert(rows.map(_.feature(0)).max > 1f,
        "open() appears to run per row, not per partition")
      assert(rows.map(_.feature(0)).count(_ == 1f) == partCounts.length,
        "exactly one 'first row after open()' per partition expected")
      assert(rows.map(_.feature(0).toLong).max == partCounts.max,
        "largest partition's closure must have counted all its rows")
    } finally m.unpersist()
  }

  test("real PNG codec round trip: genuine PNG bytes out, decoded features equal the source pattern") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (w, h) = (32, 16)
    val ids = spark.range(0, 50).as[Long]
    val payloads = Multimodal.renderPng(ids, w, h)
    // the payloads are REAL PNGs: magic signature, not our own framing
    val heads = payloads.select(hex(substring(col("media"), 1, 8)))
      .distinct().collect().map(_.getString(0))
    assert(heads.toSeq == Seq("89504E470D0A1A0A"), s"not a PNG signature: ${heads.toSeq}")
    // features come from the DECODED raster and must equal the source
    // arithmetic exactly (PNG is lossless)
    val feats = Multimodal.extractFeatures(payloads, Multimodal.PngDecoder).collect()
    assert(feats.length == 50)
    feats.foreach { f =>
      val expected = (0 until w * h).map(i => (f.media_id * 31 + i) % 256)
      assert(f.checksum == expected.sum, s"pixel sum mismatch for ${f.media_id}")
      assert(f.feature.toSeq == Seq(w.toFloat, h.toFloat,
        expected.count(_ < 128).toFloat, expected.max.toFloat),
        s"decoded features mismatch for ${f.media_id}")
    }
  }

  test("PNG resize: two codec round trips + 2x2 box mean, pixel-exact against the arithmetic") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (w, h) = (32, 16)
    val ids = spark.range(0, 30).as[Long]
    val resized = Multimodal.resizePngHalf(Multimodal.renderPng(ids, w, h))
    // the resized payloads are themselves genuine PNGs
    val heads = resized.select(hex(substring(col("media"), 1, 8)))
      .distinct().collect().map(_.getString(0))
    assert(heads.toSeq == Seq("89504E470D0A1A0A"))
    val feats = Multimodal.extractFeatures(resized, Multimodal.PngDecoder).collect()
    feats.foreach { f =>
      def p(i: Long) = (f.media_id * 31 + i) % 256
      val m = for (r <- 0 until h / 2; c <- 0 until w / 2) yield
        (p(2 * r * w + 2 * c) + p(2 * r * w + 2 * c + 1) +
          p((2 * r + 1) * w + 2 * c) + p((2 * r + 1) * w + 2 * c + 1)) / 4
      assert(f.checksum == m.sum, s"resized pixel sum mismatch for ${f.media_id}")
      assert(f.feature.toSeq == Seq((w / 2).toFloat, (h / 2).toFloat,
        m.count(_ < 128).toFloat, m.max.toFloat))
    }
  }

  test("WAV codec round trip: real RIFF container out, decoded samples equal the source pattern") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = 256
    val ids = spark.range(0, 30).as[Long]
    val payloads = Multimodal.renderWav(ids, n)
    // genuine WAV container: RIFF....WAVE magic
    val heads = payloads.select(hex(substring(col("media"), 1, 4)),
      hex(substring(col("media"), 9, 4))).distinct().collect()
    assert(heads.length == 1 && heads(0).getString(0) == "52494646" &&
      heads(0).getString(1) == "57415645", s"not a RIFF/WAVE container: ${heads.toSeq}")
    val feats = Multimodal.extractFeatures(payloads, Multimodal.WavDecoder).collect()
    feats.foreach { f =>
      val s = (0 until n).map(i => Multimodal.WavCodec.sample(f.media_id, i))
      assert(f.checksum == s.map(_.toLong).sum, s"sample sum mismatch for ${f.media_id}")
      assert(f.feature.toSeq == Seq(n.toFloat, s.min.toFloat, s.max.toFloat,
        s.count(_ >= 0).toFloat))
    }
  }

  test("JPEG block-constant @ q1.0: round trip pixel-exact, EXHAUSTIVE over all 256 pattern classes") {
    import graft.multimodal.Multimodal.JpegCodec
    // blockImage depends only on id mod 256, so 256 ids cover EVERY
    // payload this pattern can produce at this size: exactness here is
    // exactness for all ids at all scale factors (the q228 oracle's
    // load-bearing fact)
    (0L until 256L).foreach { id =>
      val img = JpegCodec.blockImage(id, 32, 16)
      val dec = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(JpegCodec.encode(img, 1.0f)))
      assert(dec.getWidth == 32 && dec.getHeight == 16)
      var y = 0
      while (y < 16) {
        var x = 0
        while (x < 32) {
          assert(dec.getRaster.getSample(x, y, 0) == img.getRaster.getSample(x, y, 0),
            s"id=$id pixel ($x,$y) drifted through the q1.0 block-constant round trip")
          x += 1
        }
        y += 1
      }
    }
  }

  test("JPEG ramp @ q0.95: genuinely lossy, error bounded < 16, re-encode converges (fixpoint drift <= 2)") {
    import graft.multimodal.Multimodal.JpegCodec
    var sawLoss = false
    (0L until 256L).foreach { id => // exhaustive: ramp depends on id mod 256
      val img = JpegCodec.rampImage(id, 32, 16)
      val d1 = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(JpegCodec.encode(img, 0.95f)))
      assert(d1.getWidth == 32 && d1.getHeight == 16, "lossy encode must preserve dims")
      var maxE1 = 0; var maxE2 = 0
      val d2 = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(JpegCodec.encode(d1, 0.95f)))
      var y = 0
      while (y < 16) {
        var x = 0
        while (x < 32) {
          maxE1 = math.max(maxE1, math.abs(
            d1.getRaster.getSample(x, y, 0) - img.getRaster.getSample(x, y, 0)))
          maxE2 = math.max(maxE2, math.abs(
            d2.getRaster.getSample(x, y, 0) - d1.getRaster.getSample(x, y, 0)))
          x += 1
        }
        y += 1
      }
      if (maxE1 > 0) sawLoss = true
      assert(maxE1 < 16, s"id=$id ramp error $maxE1 crossed the q228 quantization band")
      assert(maxE2 <= 2, s"id=$id decode(encode(decode)) drifted $maxE2 — re-encode must converge")
    }
    assert(sawLoss, "fixture degenerate: the lossy leg was lossless, the invariant-only gating is vacuous")
  }

  test("writeBlobs executes the NON-LOCAL FileSystem branch (mock:// scheme double)") {
    // q226's per-asset blob leg used to write with java.nio (local-FS
    // only); ArtifactIO.writeBlobs routes the executor-side create
    // through Path.getFileSystem, and this drives that exact code over
    // a non-`file` scheme — the object-store shape the 100 TB corpus
    // uses — asserting a byte-exact round trip back through binaryFile.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mock.impl", "graft.MockSchemeFs")
    conf.set("fs.mock.impl.disable.cache", "true")
    try {
      val base = java.nio.file.Files.createTempDirectory("graft-blob-mock").toFile.getAbsolutePath
      val dir = s"mock://$base/blobs"
      val ids = spark.range(0, 8).select(org.apache.spark.sql.functions.col("id").as("doc_id")).as[Long]
      val payloads = Multimodal.renderPng(ids, 16, 16).toDF().select("media_id", "media")
      graft.core.ArtifactIO.writeBlobs(spark, dir, payloads, ".png")
      val got = spark.read.format("binaryFile").option("pathGlobFilter", "*.png").load(dir)
        .select(
          org.apache.spark.sql.functions.regexp_extract(
            org.apache.spark.sql.functions.col("path"), "(\\d+)\\.png$", 1).cast("long"),
          org.apache.spark.sql.functions.col("content"))
        .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
      val want = payloads.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
      assert(got == want, "blob bytes must round-trip exactly through the non-local scheme")
    } finally {
      conf.unset("fs.mock.impl")
      conf.unset("fs.mock.impl.disable.cache")
    }
  }

  test("writeBlobs' local path replaces blobs whole: a rewrite with different bytes reads back intact, no temp files remain") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-blob-local").toFile.getAbsolutePath + "/blobs"
    def payloads(reps: Int) = spark.range(0, 6).select(col("id"),
      expr(s"cast(repeat(concat('blob-', cast(id as string), ';'), $reps) as binary)").as("bytes"))
    def readBack(): Map[Long, Seq[Byte]] =
      spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(dir)
        .select(regexp_extract(col("path"), "(\\d+)\\.bin$", 1).cast("long"), col("content"))
        .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    def want(reps: Int) = payloads(reps).collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    graft.core.ArtifactIO.writeBlobs(spark, dir, payloads(50), ".bin")
    assert(readBack() == want(50))
    // the retried / re-run export rewrites every blob with SHORTER bytes:
    // each file must hold exactly the new payload, never a mix
    graft.core.ArtifactIO.writeBlobs(spark, dir, payloads(3), ".bin")
    assert(readBack() == want(3), "a rewritten blob must read back whole")
    val names = new java.io.File(dir).list().toSeq.sorted
    assert(names == (0 until 6).map(i => s"$i.bin").sorted,
      s"the blob directory must hold exactly the blobs, no temp files: $names")
  }

  test("q226 storage boundary: the decode stages scan the WRITTEN tables, not in-plan renders") {
    val df = graft.queries.QueriesBinary.q226_png_storage(spark, sf("sf0.001"))
    // both storage legs present as FILE SCANS rooted in the written store
    val rels = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
    }
    assert(rels.size == 2, s"expected exactly the two storage-leg scans, got ${rels.size}")
    val paths = rels.flatMap(_.location.rootPaths.map(_.toString))
    assert(paths.forall(_.contains("graft_q226_media_")),
      s"decode lineage must come from the written store, scans: $paths")
    val fmts = rels.map(_.fileFormat.getClass.getSimpleName.toLowerCase)
    assert(fmts.exists(_.contains("parquet")), s"parquet leg scan missing: $fmts")
    assert(fmts.exists(_.contains("binary")), s"binaryFile leg scan missing: $fmts")
    // and NO lineage from the source documents table (the render+write
    // happened eagerly; the returned plan must read only the store)
    assert(!paths.exists(_.contains("documents")), "decode plan still reads the source table")
    // the two legs agree end-to-end (row-level, not just hash)
    val rows = df.collect()
    val byLeg = rows.groupBy(_.getString(0)).map { case (leg, rs) =>
      leg -> rs.map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSet
    }
    assert(byLeg("parquet") == byLeg("binary_file"),
      "parquet and binaryFile legs decoded different features")
    assert(byLeg("parquet").nonEmpty)
  }
}
