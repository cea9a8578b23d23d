package graft

import graft.util.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The session's local file system answers as Hadoop's stock one does,
  * and starts no `chmod` or `readlink` process. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val root = new URI("file:///")
  private def init[F <: FileSystem](fs: F): F = { fs.initialize(root, new Configuration()); fs }
  private lazy val ours = init(new ForkFreeRawLocalFileSystem)
  private lazy val stock = init(new RawLocalFileSystem)
  private def tmp(p: String) = Files.createTempDirectory(p)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission sets the mode bits stock chmod sets") {
    val dir = tmp("graft-localfs-perm")
    val file = Files.createFile(dir.resolve("f"))
    val sub = Files.createDirectory(dir.resolve("d"))
    for ((p, modes) <- Seq(file -> Seq("644", "600"), sub -> Seq("755", "700", "1777"));
         m <- modes) {
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      stock.setPermission(new Path(p.toString), perm)
      val want = mode(p)
      Files.setAttribute(p, "unix:mode", Integer.valueOf(0))
      ours.setPermission(new Path(p.toString), perm)
      assert(mode(p) == want, s"$p mode $m")
      assert(want == Integer.parseInt(m, 8), s"$p mode $m")
    }
  }

  test("getFileLinkStatus matches the stock lookup field by field") {
    val dir = tmp("graft-localfs-link")
    val file = Files.write(dir.resolve("f"), "abc".getBytes)
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dl"), dir.resolve("gone"))
    def fields(s: FileStatus) = Seq(s.getPath, s.getLen, s.isFile, s.isDirectory,
      s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getReplication,
      s.getBlockSize, s.getModificationTime, s.getAccessTime, s.getPermission,
      s.getOwner, s.getGroup)
    val paths = Seq(file, sub, link, dangling).map(p => new Path(p.toString)) ++
      Seq(new Path(link.toUri), new Path(file.toUri))
    for (p <- paths) {
      val got = ours.getFileLinkStatus(p)
      assert(fields(got) == fields(stock.getFileLinkStatus(p)), s"$p")
    }
    // a bare symlink path reports the link; its `file:` form names no link
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(ours.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    assert(!ours.getFileLinkStatus(new Path(link.toUri)).isSymlink)
    val missing = new Path(dir.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
  }

  test("the session's file: FileSystem and FileContext are the fork-free ones") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(root, conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[ForkFreeLocalFileSystem].getRaw
      .isInstanceOf[ForkFreeRawLocalFileSystem])
    val afs = FileContext.getFileContext(conf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass.getName)
  }

  test("a continuous top-N with a restart starts no chmod or readlink process") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val (src, sink) = (s"lfs_src_$h", s"lfs_sink_$h")
    Seq(src, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val jfr = Files.createTempFile("graft-localfs", ".jfr")
    try TestSpark.withRocksDB {
      spark.sql(s"""CREATE TABLE $src
        (row_kind STRING, cdc_ts BIGINT, g STRING, k STRING, x DOUBLE)
        USING parquet""")
      var ts = 0L
      def commit(rows: (String, String, String, Double)*): Unit = {
        ts += 1
        spark.sql(s"INSERT INTO $src VALUES " + rows.map { case (kind, g, k, x) =>
          s"('$kind', $ts, '$g', '$k', $x)"
        }.mkString(", ")): Unit
      }
      val stmt = s"""
        INSERT INTO $sink
        SELECT g, k, x, rn FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x DESC) AS rn
          FROM $src) t
        WHERE rn <= 2"""
      val ckpt = tmp("graft-localfs-ckpt").toString
      rec.start()
      val q = Engine.sqlStreamInsert(spark, stmt, ckpt)
      try {
        commit(("+I", "g1", "k1", 10.0), ("+I", "g1", "k2", 4.0), ("+I", "g2", "k3", 9.0))
        q.processAllAvailable()
        commit(("+I", "g1", "k4", 7.0), ("-D", "g2", "k3", 9.0))
        q.processAllAvailable()
        commit(("+I", "g2", "k6", 1.0))
        q.processAllAvailable()
      } finally q.stop()
      commit(("-D", "g1", "k1", 10.0), ("+I", "g2", "k5", 3.0))
      val qr = Engine.sqlStreamInsert(spark, stmt, ckpt)
      try qr.processAllAvailable() finally qr.stop()
      rec.stop()
      rec.dump(jfr)

      val cmds = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command").trim.split("\\s+").head)
        .map(c => Paths.get(c).getFileName.toString)
      info(s"child processes: ${cmds.groupBy(identity).view.mapValues(_.size).toMap}")
      assert(!cmds.exists(c => c == "chmod" || c == "readlink"), cmds)
      val rows = ChangelogSql.materializeUpsertSink(spark, sink)
        .as[(String, String, Double, Long)].collect().toSet
      assert(rows == Set(("g1", "k4", 7.0, 1L), ("g1", "k2", 4.0, 2L),
        ("g2", "k5", 3.0, 1L), ("g2", "k6", 1.0, 2L)))
    } finally {
      rec.close()
      Files.deleteIfExists(jfr)
      Seq(src, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
