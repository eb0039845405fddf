package graft

import java.io.{File, FileNotFoundException}
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sources.ForkFreeLocalFs

/** graft's `file:` FileContext against Hadoop's stock `LocalFs`: the
  * same permission bits, link statuses and checksum failures, and no
  * `readlink`/`chmod` process behind a stateful stream's checkpoint. */
class LocalFsSpec extends SparkSpec {
  private val Key = "fs.AbstractFileSystem.file.impl"

  private def contextOf(impl: Class[_]) = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set(Key, impl.getName)
    FileContext.getFileContext(c)
  }
  private def graftFc = contextOf(classOf[ForkFreeLocalFs])
  private def stockFc = contextOf(classOf[LocalFs])
  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toFile

  /** Commands of the processes the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(dump) }
  }

  private def linkOrChmod(cmds: Seq[String]) = cmds.count { c =>
    val exe = new File(c.trim.split("\\s+").head).getName
    exe == "readlink" || exe == "chmod"
  }

  /** Five micro-batches of a RocksDB-state count, checkpointed under `ckpt`. */
  private def aggregate(ckpt: File): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Int]
    val q = mem.toDS().groupBy("value").count().writeStream
      .format("memory").queryName(s"localfs_${ckpt.getName.filter(_.isLetterOrDigit)}")
      .outputMode("update").option("checkpointLocation", ckpt.getPath).start()
    try (0 until 5).foreach { b =>
      mem.addData((0 until 40).map(i => (i + b) % 16): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == 5)
  }

  test("the session's file: FileContext is graft's") {
    assert(FileContext.getFileContext(spark.sparkContext.hadoopConfiguration)
      .getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
  }

  test("a stateful stream's checkpoint forks no readlink or chmod (stock LocalFs does)") {
    aggregate(tmp("localfs-warm")) // first-query class loading stays out of the counts
    val graft = processStarts(aggregate(tmp("localfs-graft")))
    spark.conf.set(Key, classOf[LocalFs].getName)
    val stock = try processStarts(aggregate(tmp("localfs-stock")))
      finally spark.conf.unset(Key)
    assert(linkOrChmod(stock) > 0, s"the control saw no fork: $stock")
    assert(linkOrChmod(graft) == 0, graft.filter(c => linkOrChmod(Seq(c)) > 0).take(5))
  }

  private def unixMode(p: Path) =
    Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Int] & 0xfff

  test("create, mkdir and setPermission leave the same bits as stock LocalFs") {
    def bits(fc: FileContext, dir: File, mode: Int) = {
      val perm = new FsPermission(mode.toShort)
      val f = new Path(dir.getPath, s"f$mode")
      fc.create(f, EnumSet.of(CreateFlag.CREATE), CreateOpts.perms(perm)).close()
      val d = new Path(dir.getPath, s"d$mode")
      fc.mkdir(d, perm, false)
      Seq(f, d, new Path(dir.getPath, s".f$mode.crc")).map(unixMode)
    }
    val dirs = Seq(tmp("localfs-perm-graft"), tmp("localfs-perm-stock"))
    val umask = FsPermission.getUMask(spark.sparkContext.hadoopConfiguration).toShort
    for (mode <- Seq("600", "644", "700", "755").map(Integer.parseInt(_, 8))) {
      val got = bits(graftFc, dirs(0), mode)
      assert(got == bits(stockFc, dirs(1), mode), f"mode $mode%o")
      assert(got.take(2) == Seq(mode & ~umask, mode & ~umask), f"mode $mode%o")
    }
    // setPermission applies no umask: each of the nine bits on its own
    val files = dirs.map { d => val f = new File(d, "bits"); f.createNewFile(); new Path(f.getPath) }
    for (mode <- 0 +: (0 until 9).map(1 << _) :+ Integer.parseInt("777", 8)) {
      val got = Seq(graftFc, stockFc).zip(files).map { case (fc, f) =>
        fc.setPermission(f, new FsPermission(mode.toShort))
        unixMode(f)
      }
      assert(got == Seq(mode, mode), f"mode $mode%o")
    }
  }

  test("a sticky mode falls back to chmod and keeps the sticky bit") {
    val sticky = Integer.parseInt("1777", 8)
    for (fc <- Seq(graftFc, stockFc)) {
      val d = new Path(tmp("localfs-sticky").getPath)
      fc.setPermission(d, new FsPermission(sticky.toShort))
      assert(unixMode(d) == sticky)
    }
  }

  test("getFileLinkStatus matches stock for a link, a dangling link and a file") {
    val dir = tmp("localfs-links")
    val file = new File(dir, "plain")
    Files.write(file.toPath, "x".getBytes)
    Files.createSymbolicLink(new File(dir, "link").toPath, file.toPath)
    Files.createSymbolicLink(new File(dir, "dangling").toPath, new File(dir, "gone").toPath)
    def status(fc: FileContext, p: Path) = Try(fc.getFileLinkStatus(p)).map { st =>
      (st.getPath, st.isSymlink, if (st.isSymlink) Some(st.getSymlink) else None,
        st.isDirectory, st.getLen, st.getModificationTime, st.getPermission)
    }.recover { case e: FileNotFoundException => e.getClass }
    for {
      name <- Seq("plain", "link", "dangling")
      p <- Seq(new Path(dir.getPath, name), new Path(new File(dir, name).toURI))
    } assert(status(graftFc, p) == status(stockFc, p), p)
    assert(graftFc.getFileLinkStatus(new Path(dir.getPath, "link")).isSymlink)
  }

  test("a flipped byte in a committed offset log fails a checksummed read under both") {
    val ckpt = tmp("localfs-crc")
    aggregate(ckpt)
    val log = new File(ckpt, "offsets/0")
    assert(new File(ckpt, "offsets/.0.crc").isFile)
    val bytes = Files.readAllBytes(log.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
    Files.write(log.toPath, bytes, StandardOpenOption.TRUNCATE_EXISTING)
    def read(in: => java.io.InputStream) = Try { val s = in; try s.readAllBytes().toSeq finally s.close() }
    val p = new Path(log.getPath)
    for (fc <- Seq(graftFc, stockFc))
      assert(read(fc.open(p, 4096)).failed.get.isInstanceOf[ChecksumException])
    // the one-argument `open`, which Spark's checkpoint file manager
    // calls, is checksummed too under graft's; the stock `LocalFs`
    // hands it to the raw file system and returns the flipped bytes
    assert(read(graftFc.open(p)).failed.get.isInstanceOf[ChecksumException])
    assert(read(stockFc.open(p)).get == bytes.toSeq)
  }
}
