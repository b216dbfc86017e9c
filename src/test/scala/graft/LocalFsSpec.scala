package graft

import java.net.URI
import java.nio.file.{Files => NioFiles, Path => NioPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SerializableWritable

/** The engine's `file:` filesystem ([[GraftLocalFileSystem]]): installed
  * on every session, and indistinguishable from the stock checksummed
  * local FS in the modes and checksums it leaves on disk. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def mode(p: NioPath): Int =
    NioFiles.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def localFs(fs: LocalFileSystem, umask: String): LocalFileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  test("the session's file: filesystem is the syscall one, on the driver and inside a task") {
    val conf = spark.sessionState.newHadoopConf()
    assert(new Path("file:///").getFileSystem(conf).isInstanceOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[GraftLocalFileSystem])
    // a task resolves its FS under the executor's user from the job's
    // conf, not from whatever the driver thread has cached
    val shipped = new SerializableWritable(conf)
    val inTask = spark.sparkContext.parallelize(Seq(0), 1)
      .map(_ => new Path("file:///").getFileSystem(shipped.value).getClass.getName)
      .collect()
    assert(inTask.toSeq == Seq(classOf[GraftLocalFileSystem].getName))
  }

  test("FileContext resolves file: to the syscall filesystem, with the stock modes and checksums") {
    import org.apache.hadoop.fs.{CreateFlag, FileContext, Options}
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.permissions.umask-mode", "022")
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    // the streaming checkpoint shape: mkdir, then create a file in it
    val base = NioFiles.createTempDirectory("graft-localfs-fc")
    val dir = new Path(base.toUri.toString, "offsets")
    fc.mkdir(dir, FsPermission.getDirDefault, true)
    val out = fc.create(new Path(dir, "0"),
      java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
    out.write(Array.fill[Byte](64)(1))
    out.close()
    assert(mode(base.resolve("offsets")) == 0x1ed) // 0755
    assert(mode(base.resolve("offsets/0")) == 0x1a4) // 0644
    assert(NioFiles.exists(base.resolve("offsets/.0.crc")))
  }

  test("files, .crc sidecars and a nested mkdirs chain get the stock FS's modes under umask 022 and 077") {
    for (umask <- Seq("022", "077")) {
      def layout(fs: LocalFileSystem): Seq[Int] = {
        val base = NioFiles.createTempDirectory("graft-localfs")
        // setgid on the base: dirs made in it inherit the bit, and the
        // stock `chmod 0755` keeps it on a directory
        NioFiles.setAttribute(base, "unix:mode", Int.box(0x5ed)) // 02755
        val leaf = new Path(base.toUri.toString, "a/b/c")
        assert(fs.mkdirs(leaf))
        val out = fs.create(new Path(leaf, "f.bin"), true)
        out.write(Array.tabulate[Byte](4096)(_.toByte))
        out.close()
        Seq("a", "a/b", "a/b/c", "a/b/c/f.bin", "a/b/c/.f.bin.crc")
          .map(rel => mode(base.resolve(rel)))
      }
      val stock = layout(localFs(new LocalFileSystem(), umask))
      val ours = layout(localFs(new GraftLocalFileSystem(), umask))
      assert(ours == stock, s"umask $umask")
      assert(ours.head == (if (umask == "022") 0x5ed else 0x5c0), // 02755 / 02700
        s"umask $umask: ${ours.map(_.toOctalString)}")
    }
  }

  test("checksums are still written and verified") {
    val fs = localFs(new GraftLocalFileSystem(), "022")
    val dir = NioFiles.createTempDirectory("graft-localfs-crc")
    val f = new Path(dir.toUri.toString, "data.bin")
    val out = fs.create(f, true)
    out.write(Array.fill[Byte](2048)(7))
    out.close()
    assert(NioFiles.exists(dir.resolve(".data.bin.crc")))
    val raw = dir.resolve("data.bin")
    val bytes = NioFiles.readAllBytes(raw)
    bytes(100) = 8
    NioFiles.write(raw, bytes)
    val in = fs.open(f)
    try intercept[ChecksumException](in.readFully(new Array[Byte](2048)))
    finally in.close()
  }

  test("an explicit setPermission(01777) on a dir round-trips; a missing path still throws") {
    val fs = localFs(new GraftLocalFileSystem(), "022")
    val dir = NioFiles.createTempDirectory("graft-localfs-sticky")
    fs.setPermission(new Path(dir.toUri.toString), new FsPermission(0x3ff.toShort))
    assert(mode(dir) == 0x3ff)
    val missing = new Path(dir.toUri.toString, "no/such/file")
    intercept[java.io.IOException](fs.setPermission(missing, new FsPermission(0x1a4.toShort)))
    intercept[java.io.IOException](
      localFs(new LocalFileSystem(), "022").setPermission(missing, new FsPermission(0x1a4.toShort)))
  }

  test("the shared walk skips hidden and metadata dirs but not partition dirs") {
    val dir = NioFiles.createTempDirectory("graft-localfs-walk")
    for (rel <- Seq("k=1/x", ".staging/x", "_log/x", "_k=2/x", "top")) {
      NioFiles.createDirectories(dir.resolve(rel).getParent)
      NioFiles.createFile(dir.resolve(rel))
    }
    val fs = localFs(new GraftLocalFileSystem(), "022")
    val base = new Path(dir.toUri.toString)
    val found = FsWalk.files(fs, base).map(_.getPath.toUri.getPath
      .stripPrefix(base.toUri.getPath).stripPrefix("/")).toSet
    assert(found == Set("k=1/x", "_k=2/x", "top"))
    intercept[java.io.FileNotFoundException](FsWalk.files(fs, new Path(base, "gone")))
  }

  test("publishBatch renames exactly the staged part- files into their partitions; a replay lands each row once") {
    val dir = NioFiles.createTempDirectory("graft-localfs-publish").toString
    val rows = (0 until 40).map(i => (i.toLong, s"v$i", s"p${i % 3}"))
    val df = rows.toDF("id", "v", "p").repartition(4)
    val scope = streaming.BatchCommits.scopeFor("ckpt-localfs")
    def landed(): Seq[String] = {
      val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      FsWalk.files(fs, new Path(dir)).map { st =>
        s"${st.getPath.getParent.getName}/${st.getPath.getName}"
      }.sorted
    }
    def readBack(): Seq[(Long, String, String)] =
      spark.read.parquet(dir).select("id", "v", "p").as[(Long, String, String)]
        .collect().toSeq.sortBy(_._1)

    streaming.BatchCommits.publishBatch(df, dir, scope, 0L, Seq("p"))
    val first = landed()
    // every landed file is a renamed staged part file, numbered 0..n-1,
    // inside its partition dir; nothing else (no _SUCCESS) came along
    val names = first.map(_.split('/'))
    assert(names.forall(n => n(0).startsWith("p=") && n(1).matches(s"part-$scope-b0-\\d+\\.parquet")))
    assert(names.map(_(1).stripPrefix(s"part-$scope-b0-").stripSuffix(".parquet").toInt)
      .sorted == names.indices)
    assert(names.map(_(0)).distinct.sorted == Seq("p=p0", "p=p1", "p=p2"))
    assert(new java.io.File(dir).list().toSeq.sorted == Seq("p=p0", "p=p1", "p=p2"),
      "staging dir removed")
    // the .crc sidecars moved with their files
    first.foreach { rel =>
      val Array(d, n) = rel.split('/')
      assert(new java.io.File(s"$dir/$d/.$n.crc").exists(), rel)
    }
    assert(readBack() == rows)

    // replay of the same batch, laid out differently: replaces, never adds
    streaming.BatchCommits.publishBatch(df.repartition(2), dir, scope, 0L, Seq("p"))
    assert(readBack() == rows)
    assert(landed().forall(_.contains(s"part-$scope-b0-")))
  }
}
