package graft.sources

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The in-process `file:` file system (sources/InProcessLocalFs): the
  * modes it sets are the ones asked for, and a Parquet write through
  * it leaves the same modes as one through Hadoop's LocalFileSystem.
  * Every file system but the session's is built uncached, so the
  * JVM-wide Hadoop cache decides nothing for them.
  */
class InProcessLocalFsSpec extends SparkSpec {

  private val uncached = Map("fs.file.impl.disable.cache" -> "true")

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("the spec session's file: scheme is served by it") {
    assert(FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[InProcessLocalFs])
  }

  test("create, mkdirs and setPermission set the requested modes in the JVM") {
    val fs = new InProcessLocalFs
    val conf = new Configuration()
    uncached.foreach { case (k, v) => conf.set(k, v) }
    fs.initialize(URI.create("file:///"), conf)
    val root = Files.createTempDirectory("inproc-fs")
    val file = root.resolve("f.bin")
    val out = fs.create(new Path(file.toUri), new FsPermission("640"), true, 4096,
      1.toShort, 1L << 20, null)
    out.write(Array[Byte](1, 2, 3))
    out.close()
    val dir = root.resolve("d/e")
    assert(fs.mkdirs(new Path(dir.toUri), new FsPermission("750")))
    assert(mode(file) === Integer.parseInt("640", 8))
    assert(mode(dir) === Integer.parseInt("750", 8))
    fs.setPermission(new Path(dir.toUri), new FsPermission("1777"))
    assert(mode(dir) === Integer.parseInt("1777", 8))
    // like chmod, a symlink's target gets the mode
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    fs.setPermission(new Path(link.toUri), new FsPermission("600"))
    assert(mode(file) === Integer.parseInt("600", 8))
    assert(Files.readAllBytes(file).toSeq === Seq[Byte](1, 2, 3))
  }

  test("a Parquet write and read through it match Hadoop's LocalFileSystem") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, s"row $i")).toDF("id", "text").repartition(3)
    val root = Files.createTempDirectory("inproc-parquet")
    def written(cls: Class[_ <: FileSystem], name: String): Map[String, Int] = {
      val opts = uncached + ("fs.file.impl" -> cls.getName)
      val dir = root.resolve(name)
      df.write.options(opts).parquet(dir.toString)
      val conf = spark.sessionState.newHadoopConfWithOptions(opts)
      assert(new Path(dir.toUri).getFileSystem(conf).getClass === cls)
      assert(spark.read.options(opts).parquet(dir.toString).as[(Long, String)]
        .collect().sortBy(_._1).toSeq === (1 to 50).map(i => (i.toLong, s"row $i")))
      // part file names carry the write job's uuid: keep their index only
      val all = Files.walk(dir).iterator().asScala.toSeq
      all.map(p => dir.relativize(p).toString
          .replaceAll("-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "") -> mode(p))
        .toMap
    }
    val ours = written(classOf[InProcessLocalFs], "in-process")
    val hadoops = written(classOf[LocalFileSystem], "hadoop")
    assert(ours.keySet.exists(_.endsWith(".parquet")), ours)
    assert(ours.keySet.exists(_.endsWith(".crc")), ours)
    assert(ours === hadoops)
  }
}
