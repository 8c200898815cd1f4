package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileSystem, Path}

/** The egress sinks' task-side commit leaves no trace on shared state: the
  * JVM-wide cached FileSystem keeps writing checksums, and the sink dir
  * holds only the committed files. */
class SinkFilesSpec extends SparkSpec {
  import spark.implicits._

  test("WARC sink: cached FileSystem still writes .crc sidecars; no _temporary/ remains") {
    val dir = graft.util.TempDirs.create("sink-files").toString
    val pages = (0 until 6).map { i =>
      (s"https://h.test/p/$i", 200, "text/html", s"body-$i".getBytes(UTF_8),
        "2026-08-19T00:00:00Z")
    }.toDF("url", "status", "content_type", "body", "fetched_at").repartition(3)
    val manifest = graft.operators.Archive.sink(pages, dir).collect()
    assert(manifest.map(_.getLong(1)).sum == 6)
    assert(!Files.exists(Paths.get(dir, "_temporary")), "empty _temporary/ left behind")
    val listing = Files.list(Paths.get(dir))
    try assert(listing.iterator().hasNext)
    finally listing.close()

    val conf = spark.sparkContext.hadoopConfiguration
    val probeDir = graft.util.TempDirs.create("sink-files-crc").toString
    val probe = new Path(s"file://$probeDir/probe.bin")
    val fs = FileSystem.get(probe.toUri, conf) // the cached instance
    val out = fs.create(probe, true)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(Files.exists(Paths.get(probeDir, ".probe.bin.crc")),
      "the cached FileSystem stopped writing checksums")
  }
}
