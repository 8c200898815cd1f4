package graft.operators

import java.io.OutputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Task-side file commit for the egress sinks (round-6 scale rework,
  * guide §5/§6): streams go through the Hadoop FileSystem API resolved
  * from the task's configuration — the SAME code path writes file:,
  * hdfs: or s3a: — into a task-attempt temp file under `_temporary/`,
  * renamed onto the final name only when the write completed. That
  * rename-on-commit is what makes a speculative or retried attempt safe:
  * two attempts write DIFFERENT temp paths, and whichever renames first
  * wins; the loser sees the committed file and discards its own temp
  * (record content is deterministic per partition, so the two files are
  * byte-identical and either winner is correct). A reader can never
  * observe a torn final file, because final names only ever appear via
  * rename. */
private[operators] object SinkFiles {

  /** OutputStream wrapper counting bytes written (manifest n_bytes). */
  final class CountingOutputStream(under: OutputStream) extends OutputStream {
    private var n = 0L
    def count: Long = n
    override def write(b: Int): Unit = { under.write(b); n += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      under.write(b, off, len); n += len
    }
    override def flush(): Unit = under.flush()
    override def close(): Unit = under.close()
  }

  /** Stream one output file: open `dir/_temporary/<name>.attempt-<id>`,
    * hand the caller a counting stream (ONE record/entry in memory at a
    * time is the caller's contract), then commit via rename and drop the
    * `_temporary/` dir once no sibling attempt is left in it. Returns
    * (final path, bytes written). The write goes through a private
    * FileSystem instance: turning checksums off on the JVM-wide cached one
    * would silently stop `.crc` sidecars for every other writer. */
  def writeCommitted(conf: Configuration, dir: String, fileName: String,
      attemptId: Long)(write: OutputStream => Unit): (String, Long) = {
    val finalPath = new Path(dir, fileName)
    val tmpDir = new Path(dir, "_temporary")
    val tmp = new Path(tmpDir, s"$fileName.attempt-$attemptId")
    val fs = FileSystem.newInstance(finalPath.toUri, conf)
    try {
      fs.setWriteChecksum(false) // no .crc sidecars on the local/checksum FS
      // a sibling task may remove the empty temp dir between our mkdirs
      // and create: retry the create once
      def open() = { fs.mkdirs(tmpDir); fs.create(tmp, true) }
      val out = new CountingOutputStream(
        try open() catch { case _: java.io.FileNotFoundException => open() })
      var ok = false
      try { write(out); ok = true } finally {
        try out.close() finally {
          if (!ok) { // failed mid-write: drop the partial temp, keep dir clean
            try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
          }
        }
      }
      if (!fs.rename(tmp, finalPath)) {
        if (fs.exists(finalPath)) {
          // a sibling attempt committed first — byte-identical by the sink's
          // determinism contract; discard ours and report the winner's file
          try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
        } else throw new java.io.IOException(
          s"sink commit failed: rename $tmp -> $finalPath")
      }
      // non-recursive: refuses while a sibling attempt still writes there
      try fs.delete(tmpDir, false) catch { case _: java.io.IOException => () }
      (finalPath.toString, out.count)
    } finally fs.close()
  }
}
