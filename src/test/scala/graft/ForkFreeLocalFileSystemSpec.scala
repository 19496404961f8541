package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** [[ForkFreeLocalFileSystem]] writes what Hadoop's `LocalFileSystem`
  * writes, modes included, and is what a service session's `file:`
  * paths resolve to.
  */
class ForkFreeLocalFileSystemSpec extends SparkSpec {

  private def tmpDir(): java.nio.file.Path = Files.createTempDirectory("forkfree-")

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Under `root` through `fs`: a nested new directory, a created file
    * (and its `.crc`), a directory with an explicit permission; every
    * path it made, relative to `root`.
    */
  private def populate(fs: FileSystem, root: java.nio.file.Path): Seq[String] = {
    val base = new Path(root.toUri)
    assert(fs.mkdirs(new Path(base, "d/e")))
    val out = fs.create(new Path(base, "d/e/part.bin"), true)
    try out.write("the same bytes".getBytes("UTF-8")) finally out.close()
    assert(fs.mkdirs(new Path(base, "x"), new FsPermission("750")))
    Seq("d", "d/e", "d/e/part.bin", "d/e/.part.bin.crc", "x")
  }

  test("a file, its .crc and new directories get LocalFileSystem's modes and bytes under each umask") {
    Seq("022", "027", "077").foreach { umask =>
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val hadoop = new LocalFileSystem()
      hadoop.initialize(URI.create("file:///"), conf)
      val forkFree = new ForkFreeLocalFileSystem()
      forkFree.initialize(URI.create("file:///"), conf)
      val (a, b) = (tmpDir(), tmpDir())
      try {
        val made = populate(hadoop, a)
        assert(populate(forkFree, b) == made)
        made.foreach { rel =>
          assert(mode(b.resolve(rel)) == mode(a.resolve(rel)), s"umask $umask: $rel")
          if (Files.isRegularFile(a.resolve(rel)))
            assert(Files.readAllBytes(b.resolve(rel)).toSeq == Files.readAllBytes(a.resolve(rel)).toSeq,
              s"umask $umask: $rel")
        }
        if (umask == "027") {
          assert(mode(b.resolve("d/e/part.bin")) == "rw-r-----")
          assert(mode(b.resolve("d/e")) == "rwxr-x---")
        }
      } finally {
        hadoop.close(); forkFree.close()
        Seq(a, b).foreach(d => Files.walk(d).iterator.asScala.toSeq.reverse.foreach(Files.delete))
      }
    }
  }

  test("the test session names the service sessions' file: entry and resolves file: to it") {
    assert(Sessions.serviceConfPairs("2").contains(Sessions.LocalFs))
    val dir = tmpDir()
    try {
      val fs = new Path(dir.toUri).getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass.getName)
      assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .isInstanceOf[ForkFreeLocalFileSystem])
    } finally Files.delete(dir)
  }

  test("a session built by Sessions.serviceBuilder resolves file: to the fork-free class") {
    // a fresh JVM, so the session is the first thing to create a file:
    // instance there, as in every service main
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.toSeq
    val opens = jvmArgs.zip(jvmArgs.drop(1)).collect { case ("--add-opens", v) => s"--add-opens=$v" } ++
      jvmArgs.filter(_.startsWith("--add-opens="))
    val cmd = Seq(javaBin, "-Xmx512m") ++ opens ++ Seq("-cp", System.getProperty("java.class.path"),
      ServiceSessionProbe.getClass.getName.stripSuffix("$"))
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toVector
    assert(proc.waitFor() == 0, out.mkString("\n"))
    assert(out.filter(_.startsWith("file-fs ")) ==
      Vector.fill(2)(s"file-fs ${classOf[ForkFreeLocalFileSystem].getName}"), out.mkString("\n"))
  }
}

/** Builds a service session and prints the class `file:` resolves to,
  * through the context's and the session's Hadoop conf.
  */
object ServiceSessionProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.serviceBuilder("1", "file-fs-probe").getOrCreate()
    try {
      val root = URI.create("file:///")
      println(s"file-fs ${FileSystem.get(root, spark.sparkContext.hadoopConfiguration).getClass.getName}")
      println(s"file-fs ${FileSystem.get(root, spark.sessionState.newHadoopConf()).getClass.getName}")
    } finally spark.stop()
  }
}
