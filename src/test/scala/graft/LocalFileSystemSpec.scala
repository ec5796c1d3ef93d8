package graft

import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** [[GraftLocalFileSystem]] sets the permissions Hadoop's stock local
  * filesystem sets, without a `chmod` process per file.
  */
class LocalFileSystemSpec extends SparkSpec {

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every entry under `root` as (parent dir, kind, mode), sorted. Part
    * file names carry a job id, so data and checksum files are named by
    * their kind; directories and `_SUCCESS` keep their names.
    */
  private def modes(root: JPath): Seq[(String, String, Int)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map { p =>
      val name = p.getFileName.toString
      val kind =
        if (Files.isDirectory(p) || name == "_SUCCESS" || name == "._SUCCESS.crc") name
        else if (name.endsWith(".crc")) "crc" else "data"
      (root.relativize(p.getParent).toString, kind, mode(p))
    }.toSeq.sorted
    finally walk.close()
  }

  test("the session's file: filesystem is graft's") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(Files.createTempDirectory("graft-fs").toUri).getFileSystem(conf)
    assert(fs.getClass === classOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRawFileSystem.isInstanceOf[GraftLocalFileSystem.Raw])
  }

  test("a write gets the permission bits of Hadoop's stock local filesystem") {
    import spark.implicits._
    val df = (0 until 20).map(i => (i.toLong, s"k${i % 3}")).toDF("id", "k").repartition(2, $"id")
    // a write's options reach the Hadoop conf its committer and tasks use;
    // with the cache off, each side gets a fresh filesystem of its class
    // under that umask
    def fsOpts(impl: Class[_], umask: Option[String]) = Map(
      "fs.file.impl" -> impl.getName, "fs.file.impl.disable.cache" -> "true") ++
      umask.map("fs.permissions.umask-mode" -> _)
    val rows = Seq(
      // (case, graft-side options, umask, expected file / dir modes)
      ("the session's own filesystem", Map.empty[String, String], None,
        (octal("644"), octal("755"))),
      ("umask 027", fsOpts(classOf[GraftLocalFileSystem], Some("027")), Some("027"),
        (octal("640"), octal("750"))))
    rows.foreach { case (name, graftOpts, umask, (fileMode, dirMode)) =>
      val tmp = Files.createTempDirectory("graft-perm")
      df.write.options(graftOpts).partitionBy("k").parquet(tmp.resolve("graft").toString)
      df.write.options(fsOpts(classOf[LocalFileSystem], umask)).partitionBy("k")
        .parquet(tmp.resolve("stock").toString)
      val graft = modes(tmp.resolve("graft"))
      val stock = modes(tmp.resolve("stock"))
      assert(graft === stock, name)
      assert(graft.map(_._2).toSet === Set("k=k0", "k=k1", "k=k2", "data", "crc",
        "_SUCCESS", "._SUCCESS.crc"), name)
      graft.foreach { case (_, kind, m) =>
        assert(m === (if (kind.startsWith("k=")) dirMode else fileMode), s"$name: $kind")
      }
    }
  }

  test("a mode with the sticky bit is applied through the stock fallback") {
    val conf = spark.sessionState.newHadoopConf()
    val dir = Files.createTempDirectory("graft-sticky")
    val fs = new Path(dir.toUri).getFileSystem(conf)
    val sticky = new Path(dir.resolve("shared").toUri)
    assert(fs.mkdirs(sticky))
    fs.setPermission(sticky, new FsPermission(octal("1777").toShort))
    assert(mode(dir.resolve("shared")) === octal("1777"))
    val file = new Path(dir.resolve("f").toUri)
    fs.create(file).close()
    fs.setPermission(file, new FsPermission(octal("600").toShort))
    assert(mode(dir.resolve("f")) === octal("600"))
    assert(mode(dir.resolve(".f.crc")) === octal("600"))
  }
}
