package graft.lake

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** [[LocalFs]]: the nio permission path, its fallback to Hadoop's own
  * `setPermission`, and unchanged checksum verification. */
class LocalFsSpec extends SparkSpec {
  private def conf = spark.sparkContext.hadoopConfiguration
  private def localFs: FileSystem = FileSystem.get(URI.create("file:///"), LocalFs.conf(conf))
  private def hpath(p: java.nio.file.Path) = new Path(p.toUri)

  test("write options resolve file:// to an uncached LocalFs; the session FS is unchanged") {
    val a = localFs
    assert(a.isInstanceOf[LocalFs])
    assert(!(a eq localFs), "uncached: every lookup builds its own instance")
    assert(!FileSystem.getLocal(conf).isInstanceOf[LocalFs])
  }

  test("permissions 0000, 0600, 0644, 0700, 0755 map to exactly those bits, no spawn") {
    val fs = localFs
    val dir = Paths.get(tmpDir("localfs-bits"))
    val modes = Seq(0x000, 0x180, 0x1a4, 0x1c0, 0x1ed) // 0000 0600 0644 0700 0755
    val (_, cmds) = Spawns.during {
      modes.foreach { m =>
        val f = dir.resolve(f"f$m%o")
        fs.create(hpath(f)).close()
        fs.setPermission(hpath(f), new FsPermission(m.toShort))
      }
    }
    modes.foreach { m =>
      assert(Spawns.mode(dir.resolve(f"f$m%o")) == m, f"mode $m%04o")
    }
    assert(Spawns.chmods(cmds, dir.toString).size == 0, cmds.toString)
  }

  test("a sticky-bit permission goes through Hadoop's setPermission, same result as stock") {
    val dir = Paths.get(tmpDir("localfs-sticky"))
    val (mine, stock) = (dir.resolve("mine"), dir.resolve("stock"))
    Files.createDirectories(mine)
    Files.createDirectories(stock)
    val sticky = new FsPermission(0x3ff.toShort) // 01777
    val (_, cmds) = Spawns.during(localFs.setPermission(hpath(mine), sticky))
    FileSystem.getLocal(conf).setPermission(hpath(stock), sticky)
    // without libhadoop, Hadoop's own path is the `chmod` process
    assert(Spawns.chmods(cmds, mine.toString).size == (if (NativeIO.isAvailable) 0 else 1),
      cmds.toString)
    assert(Spawns.mode(mine) == Spawns.mode(stock))
    assert((Spawns.mode(mine) & 0x1ff) == 0x1ff)
  }

  test("checksums: a flipped byte in a LocalFs-written file fails the read") {
    val dir = tmpDir("localfs-crc") + "/t"
    spark.range(5000).selectExpr("id", "cast(id * 7 as string) s").coalesce(1)
      .write.options(LocalFs.writeOptions).parquet(dir)
    val st = Files.list(Paths.get(dir))
    val f = try st.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally st.close()
    assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")))
    assert(spark.read.parquet(dir).count() == 5000)
    val b = Files.readAllBytes(f)
    b(b.length / 2) = (b(b.length / 2) ^ 0xff).toByte
    Files.write(f, b)
    // the same classes a file written through Hadoop's stock
    // LocalFileSystem fails with
    val e = intercept[org.apache.spark.SparkException](spark.read.parquet(dir).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e.toString)
    intercept[ChecksumException] {
      val in = FileSystem.getLocal(conf).open(hpath(f))
      try in.readAllBytes() finally in.close()
    }
  }
}
