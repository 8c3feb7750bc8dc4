package graft.io

import graft.SparkSpec
import graft.streaming.{CdcPipeline, Destination, DestinationMetadata,
  PipelineConfig}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The fork-free local filesystem reports what stock Hadoop reports, and
  * after a pipeline start it is the class that serves every local path. */
class NioLocalFileSystemSpec extends SparkSpec {

  private val root = s"$outRoot/test-out/nio-local-fs"
  private val local = URI.create("file:///")

  private def clean(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
  }

  /** Every FileStatus field; a failed call reads as its exception class. */
  private def fields(st: => FileStatus): Either[String, Seq[Any]] =
    Try(st).toEither.left.map(_.getClass.getName).map { s =>
      Seq(s.getPath, s.getLen, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getModificationTime,
        s.getPermission, s.getOwner, s.getGroup, s.getReplication, s.getBlockSize)
    }

  private def listing(ls: => Array[FileStatus]): Either[String, Seq[Seq[Any]]] =
    Try(ls).toEither.left.map(_.getClass.getName)
      .map(_.sortBy(_.getPath.toString).toSeq.map(s => fields(s).toOption.get))

  test("parity: FileStatus fields, .crc files and read-back match stock LocalFileSystem") {
    clean(root)
    val conf = new Configuration()
    val stock = new LocalFileSystem()
    stock.initialize(local, conf)
    val nio = new NioLocalFileSystem()
    nio.initialize(local, conf)

    def writeTree(fs: FileSystem, dir: String): Unit = {
      assert(fs.mkdirs(new Path(s"$dir/a/b/c")))
      val out = fs.create(new Path(s"$dir/a/b/file.txt"))
      out.write("change events\n".getBytes(UTF_8))
      out.close()
      fs.create(new Path(s"$dir/a/empty")).close()
      fs.setPermission(new Path(s"$dir/a/empty"), new FsPermission("640"))
      fs.setPermission(new Path(s"$dir/a/b/c"), new FsPermission(Integer.parseInt("1750", 8).toShort))
      Files.createSymbolicLink(Paths.get(s"$dir/a/link"), Paths.get("b/file.txt"))
      Files.createSymbolicLink(Paths.get(s"$dir/a/dangling"), Paths.get("gone"))
    }
    val trees = Seq(s"$root/stock", s"$root/nio")
    writeTree(stock, trees(0))
    writeTree(nio, trees(1))

    // both writers leave the same entries (.crc files included) with the
    // same modes on disk
    def onDisk(dir: String): Map[String, Any] =
      Files.walk(Paths.get(dir)).iterator().asScala.toSeq.map { p =>
        Paths.get(dir).relativize(p).toString ->
          Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      }.toMap
    assert(onDisk(trees(0)) === onDisk(trees(1)))
    assert(onDisk(trees(1)).keySet.contains("a/b/.file.txt.crc"))
    assert(onDisk(trees(1)).keySet.contains("a/.empty.crc"))

    // every status either class reports on either tree, checksummed and raw,
    // through qualified and bare paths
    for {
      dir <- trees
      (s, n) <- Seq((stock, nio), (stock.getRaw, nio.getRaw))
      rel <- onDisk(dir).keys.toSeq.sorted
      path <- Seq(new Path(s"$dir/$rel"), new Path(s"file:$dir/$rel"))
    } {
      assert(fields(n.getFileStatus(path)) === fields(s.getFileStatus(path)), s"getFileStatus $path")
      assert(fields(n.getFileLinkStatus(path)) === fields(s.getFileLinkStatus(path)), s"getFileLinkStatus $path")
      assert(listing(n.listStatus(path)) === listing(s.listStatus(path)), s"listStatus $path")
    }
    // the bare path of a link is reported as one, as stock does
    assert(nio.getFileLinkStatus(new Path(s"${trees(1)}/a/link")).isSymlink)

    // FileContext (the checkpoint logs' layer): a log-style create+rename
    // through the nio classes, and both layers' statuses agree
    val nioConf = new Configuration()
    nioConf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    val fcNio = FileContext.getFileContext(local, nioConf)
    val fcStock = FileContext.getFileContext(local, conf)
    assert(fcNio.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val tmp = new Path(s"$root/log/.0.tmp")
    val out = fcNio.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    out.write("v1\n".getBytes(UTF_8))
    out.close()
    fcNio.rename(tmp, new Path(s"$root/log/0"), Options.Rename.OVERWRITE)
    assert(Files.exists(Paths.get(s"$root/log/.0.crc")))
    for (p <- Seq(s"$root/log/0", s"$root/log", s"${trees(0)}/a/link"))
      assert(fields(fcNio.getFileLinkStatus(new Path(p))) ===
        fields(fcStock.getFileLinkStatus(new Path(p))), p)

    // what one wrote the other reads back, checksums verified
    def read(fs: FileSystem, p: String): String = {
      val in = fs.open(new Path(p))
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    assert(read(nio, s"${trees(0)}/a/b/file.txt") === "change events\n")
    assert(read(stock, s"${trees(1)}/a/b/file.txt") === "change events\n")
    assert(read(nio, s"${trees(0)}/a/link") === "change events\n")
    assert(read(stock, s"$root/log/0") === "v1\n")
    assert(read(nio, s"${trees(1)}/a/empty") === "")
  }

  test("resolution: after CdcPipeline.start one cached nio instance serves driver, stream, tasks and FileContext") {
    assume(!NativeCodeLoader.isNativeCodeLoaded,
      "with the native library stock forks nothing and is kept")
    val base = s"$root/resolve"
    clean(base)
    spark.range(20).selectExpr("'insert' AS operation", "id AS event_id")
      .repartition(2).write.json(s"$base/source")

    // class, FileSystem instance and FileContext class as the stream's own
    // session resolves them inside foreachBatch
    val inBatch = new java.util.concurrent.ConcurrentLinkedQueue[
      (Class[_], FileSystem, Class[_])]()
    val dest = new Destination {
      def writeBatch(df: DataFrame, batchId: Long): Unit = {
        val conf = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sessionState.newHadoopConf()
        inBatch.add((FileSystem.getFileSystemClass("file", conf),
          FileSystem.get(local, conf),
          FileContext.getFileContext(local, conf).getDefaultFileSystem.getClass))
        df.count()
      }
      def metadata: DestinationMetadata = DestinationMetadata("probe", false)
    }
    val q = CdcPipeline.start(spark, PipelineConfig(sourceDir = s"$base/source",
      schemaDDL = "operation string, event_id long",
      checkpointDir = s"$base/checkpoint", queryName = "nio-resolve",
      triggerInterval = None), dest)
    assert(q.awaitTermination(120000))

    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val driverFs = FileSystem.get(hadoopConf)
    assert(driverFs.isInstanceOf[NioLocalFileSystem])
    assert(!inBatch.isEmpty, "no batch ran")
    inBatch.asScala.foreach { case (cls, fs, afs) =>
      assert(cls === classOf[NioLocalFileSystem])
      assert(fs eq driverFs, "the stream resolved another instance than the driver")
      assert(afs === classOf[NioLocalFs])
    }
    val inTasks = spark.sparkContext.parallelize(1 to 4, 4).mapPartitions { _ =>
      val fs = FileSystem.get(URI.create("file:///"), new Configuration())
      Iterator((fs.getClass.getName, System.identityHashCode(fs)))
    }.collect().toSet
    assert(inTasks === Set((classOf[NioLocalFileSystem].getName,
      System.identityHashCode(driverFs))))
    assert(FileContext.getFileContext(local, hadoopConf)
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }
}
