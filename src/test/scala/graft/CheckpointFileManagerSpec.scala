package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFileManager

/** The checkpoint file manager `GraftSession.tune` names: Spark's
  * atomic-write contract (whole file or nothing, overwrite only when
  * asked, cancel and a refused publish leave nothing), Hadoop's `.crc`
  * check on read, an overwrite that never leaves new bytes under an old
  * `.crc`, resume from a checkpoint Spark's default manager wrote, and no
  * `readlink` or `chmod` subprocess per checkpoint file.
  */
final class CheckpointFileManagerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val ManagerConf = "spark.sql.streaming.checkpointFileManagerClass"

  private def manager(session: SparkSession, dir: JPath): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri), session.sessionState.newHadoopConf())

  /** A session on the same context with Spark's default manager. */
  private def defaultSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.unset(ManagerConf)
    s
  }

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean = true): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every file name in `dir`, hidden ones (temp files, `.crc`) included. */
  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet

  test("a tuned session creates the graft manager; Spark's default otherwise") {
    val dir = Files.createTempDirectory("graft-cfm")
    assert(manager(spark, dir).isInstanceOf[LocalCheckpointFileManager])
    val plain = manager(defaultSession(), dir)
    assert(plain.getClass == classOf[FileContextBasedCheckpointFileManager])
  }

  test("createAtomic + close publishes the whole file with its .crc and no temp file") {
    val dir = Files.createTempDirectory("graft-cfm")
    val fm = manager(spark, dir)
    val p = new Path(dir.resolve("1.delta").toUri)
    val text = "x" * 5000
    write(fm, p, text)
    assert(read(fm, p) == text)
    assert(names(dir) == Set("1.delta", ".1.delta.crc"))
  }

  test("overwriteIfPossible = false keeps an existing target byte-identical; true replaces it") {
    val dir = Files.createTempDirectory("graft-cfm")
    val fm = manager(spark, dir)
    val p = new Path(dir.resolve("0").toUri)
    write(fm, p, "first")
    val before = Files.readAllBytes(dir.resolve("0")).toSeq
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(Files.readAllBytes(dir.resolve("0")).toSeq == before)
    assert(read(fm, p) == "first")
    write(fm, p, "third, longer")
    assert(read(fm, p) == "third, longer")
  }

  test("a refused publish deletes its temp file and .crc") {
    val dir = Files.createTempDirectory("graft-cfm")
    val fm = manager(spark, dir)
    val p = new Path(dir.resolve("1").toUri)
    write(fm, p, "first")
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(names(dir) == Set("1", ".1.crc"))
    assert(read(fm, p) == "first")
  }

  test("an overwrite interrupted between its two moves leaves a readable file") {
    val dir = Files.createTempDirectory("graft-cfm")
    val fm = manager(spark, dir)
    val p = new Path(dir.resolve("4.delta").toUri)
    val (target, temp) = (dir.resolve("4.delta"), dir.resolve("temp"))
    write(fm, p, "old state")
    write(fm, new Path(temp.toUri), "new state")
    // new bytes under the target's old .crc would fail every later read
    Files.copy(temp, target, StandardCopyOption.REPLACE_EXISTING)
    intercept[ChecksumException](read(fm, p))
    // renameTempFile's first two steps: the old .crc goes, the data file moves
    write(fm, p, "old state")
    Files.delete(dir.resolve(".4.delta.crc"))
    Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
    assert(read(fm, p) == "new state")
  }

  test("cancel() leaves neither the temp file nor the target") {
    val dir = Files.createTempDirectory("graft-cfm")
    val fm = manager(spark, dir)
    val out = fm.createAtomic(new Path(dir.resolve("2.delta").toUri), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("a flipped byte in a published file fails the .crc check on read") {
    val dir = Files.createTempDirectory("graft-cfm")
    val fm = manager(spark, dir)
    val p = new Path(dir.resolve("3.delta").toUri)
    write(fm, p, "state store delta bytes")
    val f = dir.resolve("3.delta")
    val bytes = Files.readAllBytes(f)
    bytes(4) = (bytes(4) ^ 1).toByte
    Files.write(f, bytes)
    intercept[ChecksumException](read(fm, p))
    assert(Files.readAllBytes(f).toSeq == bytes.toSeq, "the corrupt file stays in place")
  }

  test("a checkpoint written by Spark's default manager resumes under the graft manager") {
    val (sink, afterFirst) = StreamRestart.interrupted(defaultSession(), spark)
    assert(afterFirst == 1 && sink.size == 2)
    val last = sink.det.last
    assert(StreamRestart.FinalTotals.forall { case (k, v) => last(k) == v },
      s"window state not recovered: $last")
  }

  test("two micro-batches start no readlink or chmod subprocess") {
    /** `readlink`/`chmod` process starts while `body` runs. */
    def forks(body: => Unit): Seq[String] = {
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val file = Files.createTempFile("graft-forks", ".jfr")
      try {
        rec.dump(file)
        jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
          .map(_.getString("command"))
          .filter(c => c.contains("readlink") || c.contains("chmod"))
      } finally {
        rec.close()
        Files.delete(file)
      }
    }
    val graft = forks(assert(StreamRestart.continuous(spark).size == 2))
    assert(graft.isEmpty, s"subprocesses: ${graft.take(5)}")
    // the guard sees them: without Hadoop's native library, Spark's default
    // manager forks for the same two micro-batches
    val default = forks(assert(StreamRestart.continuous(defaultSession()).size == 2))
    if (!NativeIO.isAvailable) assert(default.nonEmpty)
  }
}
