package graft.dev

import java.nio.file.Files

/** DBLP-at-volume smoke: generate an n-record faithful dblp.xml slice
  * ([[DblpGen]]), run the FULL pipeline with every flag on, and print
  * per-stage wall times + whole-run MB/s. Correctness at this shape is
  * pinned byte-exactly by `DblpEndToEndSpec` (20k records); this
  * harness measures the XML path's throughput at 10-25x that volume —
  * the reference's actual workload shape (multi-GB dblp.xml,
  * /root/reference/README.md).
  *
  * Usage: runMain graft.dev.DblpSmoke [nRecords] [dirs]
  * ("dirs" = partition-parallel multi-part output, the scale path,
  * instead of the byte-golden single-file mode)
  */
object DblpSmoke {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 200000
    val dirs = args.contains("dirs")
    val spark = graft.Session.build("local[32]", 32)

    val dir = Files.createTempDirectory("dblp_smoke")
    val t0 = System.nanoTime()
    val (xml, dtd) = DblpGen.writeCorpus(dir, DblpGen.records(n, seed = 11L))
    val xmlBytes = Files.size(java.nio.file.Paths.get(xml))
    println(f"TIME generate+write: ${(System.nanoTime() - t0) / 1e9}%.1fs (${xmlBytes / 1e6}%.1f MB xml)")

    val outDir = Files.createTempDirectory("dblp_smoke_out")
    val t1 = System.nanoTime()
    val result = graft.xml.XmlToCsv.run(spark, graft.xml.XmlToCsv.Config(
      xmlFile = xml, dtdFile = dtd, outputFile = s"$outDir/out.csv",
      annotate = true, neo4j = true, validate = true,
      singleFile = !dirs,
      relations = Seq("author" -> "authored_by", "cite" -> "cites")))
    val secs = (System.nanoTime() - t1) / 1e9
    val total = result.recordCounts.values.sum
    require(total == n, s"record count mismatch: $total vs $n")
    val mode = if (dirs) "dirs" else "single-file"
    println(f"TIME full pipeline ($mode, annotate+neo4j+validate+2 relations): $secs%.1fs")
    println(f"RESULT n=$n xmlMB=${xmlBytes / 1e6}%.1f throughputMBs=${xmlBytes / 1e6 / secs}%.2f " +
      f"recordsPerSec=${n / secs}%.0f " +
      result.recordCounts.toSeq.sortBy(_._1).map { case (t, c) => s"$t=$c" }.mkString(" "))
    spark.stop()
  }
}
