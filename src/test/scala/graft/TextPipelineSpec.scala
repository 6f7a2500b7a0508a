package graft

import java.nio.file.Files

import graft.mr.MapReduce
import graft.sources.TextPipeline

/** End-to-end file pipeline: glob of .txt files → word count → sorted
  * bucketed text sink → read-back equals the verify.py-shaped oracle.
  */
class TextPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dirs: (String, String) = {
    val in = Files.createTempDirectory("graft-txt-in")
    val texts = graft.core.Tables(spark, sf("sf0.001"), "documents")
      .select("text").as[String].collect()
    texts.grouped(100).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(in.resolve(s"part$i.txt"), chunk.mkString("\n").getBytes("UTF-8"))
    }
    (in.toString, Files.createTempDirectory("graft-txt-out").toString)
  }

  test("text glob -> word count -> sorted text sink round-trips against the oracle") {
    val (in, out) = dirs
    TextPipeline.run(spark, s"$in/*.txt", out, numBuckets = 3)
    val got = TextPipeline.readResult(spark, out).as[(String, Long)].collect().toMap
    val lines = spark.read.textFile(s"$in/*.txt").collect().toSeq
    assert(got == Oracles.wordCountOracle(lines))
  }

  test("readResult drops malformed lines, like the reference's parser (A8)") {
    val (in, out) = dirs
    TextPipeline.run(spark, s"$in/*.txt", out, numBuckets = 2)
    val clean = TextPipeline.readResult(spark, out).count()
    // Corrupt the directory with lines that don't split into 2 fields —
    // worker.rs:128-131 silently skips these; so must the read-back.
    Files.write(java.nio.file.Paths.get(out, "part-corrupt.txt"),
      "justoneword\nthree words here\n\n".getBytes("UTF-8"))
    val withJunk = TextPipeline.readResult(spark, out)
    assert(withJunk.count() == clean, "malformed lines must be dropped, not parsed")
    assert(withJunk.filter("word IS NULL OR cnt IS NULL").count() == 0)
  }

  test("whole-file map granularity feeds the ENTIRE file to the map fn") {
    val (in, _) = dirs
    // A map fn that NEEDS whole-document context: one record per input
    // string. Per-file granularity must yield #files, not #lines.
    val got = MapReduce.runWholeFiles[String, Long](
      spark, s"$in/*.txt",
      doc => Seq(("inputs", 1L)),
      (k, it) => (k, it.sum),
      numBuckets = 2).collect().toMap
    val nFiles = new java.io.File(in).listFiles().count(_.getName.endsWith(".txt"))
    val nLines = spark.read.textFile(s"$in/*.txt").count()
    assert(nFiles.toLong != nLines, "sanity: files must be multi-line for this test to bite")
    assert(got == Map("inputs" -> nFiles.toLong))
  }

  test("whole-file word count agrees with the line-granularity pipeline") {
    val (in, _) = dirs
    val whole = MapReduce.runWholeFiles[String, Long](
      spark, s"$in/*.txt",
      doc => doc.replaceAll("[^A-Za-z]", " ").split("\\s+").toSeq.filter(_.nonEmpty).map(w => (w, 1L)),
      (k, it) => (k, it.sum),
      numBuckets = 2).collect().toMap
    val lines = spark.read.textFile(s"$in/*.txt").collect().toSeq
    assert(whole == Oracles.wordCountOracle(lines))
  }

  test("sink produces numBuckets files, each internally sorted") {
    val (in, out) = dirs
    TextPipeline.run(spark, s"$in/*.txt", out, numBuckets = 3)
    val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == 3)
    parts.foreach { f =>
      val words = scala.io.Source.fromFile(f).getLines().map(_.split(" ")(0)).toSeq
      assert(words == words.sorted, s"${f.getName} not sorted")
    }
  }
}
