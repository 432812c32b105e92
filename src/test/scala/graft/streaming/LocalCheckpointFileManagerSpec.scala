package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** The `CheckpointFileManager` contract Spark's streaming logs and
  * state stores rely on, checked on the fork-free local manager. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def hadoopConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  private def withManager(f: (CheckpointFileManager, JPath) => Unit): Unit = {
    val dir = java.nio.file.Paths.get(graft.TestSpark.tempDir("graft-cfm"))
    f(new LocalCheckpointFileManager(new Path(dir.toUri), hadoopConf), dir)
  }

  private def write(fm: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("a no-overwrite publish onto an existing file fails and keeps the old bytes") {
    withManager { (fm, dir) =>
      val p = new Path(dir.resolve("0").toUri)
      write(fm, p, "first", overwrite = false)
      val out = fm.createAtomic(p, overwriteIfPossible = false)
      out.write("second".getBytes(UTF_8))
      intercept[FileAlreadyExistsException](out.close())
      out.cancel()
      assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "first")
      assert(names(dir) == Set("0"), "the rejected temp file must not be left behind")
      write(fm, p, "third", overwrite = true)
      val in = fm.open(p)
      try assert(new String(in.readAllBytes(), UTF_8) == "third") finally in.close()
    }
  }

  test("cancel() leaves neither the temp file nor the target") {
    withManager { (fm, dir) =>
      val out = fm.createAtomic(new Path(dir.resolve("1.delta").toUri), overwriteIfPossible = true)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      assert(names(dir).isEmpty)
    }
  }

  test("the final name is not visible before close()") {
    withManager { (fm, dir) =>
      val p = new Path(dir.resolve("2").toUri)
      val out = fm.createAtomic(p, overwriteIfPossible = false)
      out.write("offsets".getBytes(UTF_8))
      out.flush()
      assert(!fm.exists(p) && !Files.exists(dir.resolve("2")))
      assert(!fm.list(new Path(dir.toUri)).exists(_.getPath.getName == "2"))
      out.close()
      assert(fm.exists(p))
      assert(fm.list(new Path(dir.toUri)).map(_.getPath.getName).toSeq == Seq("2"))
      assert(new String(Files.readAllBytes(dir.resolve("2")), UTF_8) == "offsets")
    }
  }

  test("the engine's session conf selects the manager for local checkpoints") {
    val dir = graft.TestSpark.tempDir("graft-cfm")
    assert(CheckpointFileManager.create(new Path(dir), hadoopConf)
      .isInstanceOf[LocalCheckpointFileManager])
  }
}
