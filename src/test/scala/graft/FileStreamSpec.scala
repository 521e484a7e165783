package graft

import graft.streaming.{StreamRun, StreamingAnalytics}
import java.nio.file.Files

/** Real file-source streaming ingest (S1's streaming twin): raw log lines
  * land in a directory, `readStream.text` + LogParser + windowed counts
  * run over them, results match batch.
  */
class FileStreamSpec extends SparkSpec {
  import spark.implicits._

  test("readStream.text directory ingest: parse + count equals batch") {
    val dir = tempDir("graft_stream_in").toFile
    val lines = Seq(
      "Dec 10 06:55:46 LabSZ sshd[1]: Invalid user a from 1.2.3.4",
      "Dec 10 06:56:00 LabSZ sshd[2]: Invalid user b from 1.2.3.5",
      "Dec 10 07:10:00 LabSZ sshd[3]: Failed password for root from 1.2.3.6 port 2 ssh2",
      "not a log line at all")
    Files.write(new java.io.File(dir, "batch0.log").toPath,
      lines.mkString("\n").getBytes)

    val stream = spark.readStream.text(dir.getAbsolutePath)
    val parsed = StreamingAnalytics.parseStream(stream)
    val counts = parsed.groupBy("event").count()

    val streaming = StreamRun.memory(counts, "complete").sink.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streaming == Map("invalid_user" -> 2L, "failed_password" -> 1L))
  }
}
