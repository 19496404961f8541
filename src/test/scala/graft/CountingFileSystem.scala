package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}

/** The local file system mounted under `counting://`, recording the local
  * path of every `listStatus` and every `open` made through it. Mount it
  * with [[CountingFileSystem.mount]].
  */
final class CountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("counting:///")
  override def getScheme: String = "counting"

  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFileSystem.listed.add(f.toUri.getPath); super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.opened.add(f.toUri.getPath); super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  private val listed = new ConcurrentLinkedQueue[String]
  private val opened = new ConcurrentLinkedQueue[String]

  /** `local` (an absolute local path) under the `counting://` scheme. */
  def path(local: String): String = s"counting://$local"

  /** Mount `counting://` in the session's Hadoop conf. The instance is
    * created here, so readers built before the mount, whose conf does
    * not name the scheme, find it in Hadoop's file system cache.
    */
  def mount(spark: org.apache.spark.sql.SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.counting.impl", classOf[CountingFileSystem].getName)
    org.apache.hadoop.fs.FileSystem.get(java.net.URI.create("counting:///"), conf)
    ()
  }

  /** The local paths `body` listed and opened through `counting://`. */
  def during(body: => Unit): (Seq[String], Seq[String]) = {
    listed.clear(); opened.clear()
    body
    (listed.asScala.toSeq, opened.asScala.toSeq)
  }
}
