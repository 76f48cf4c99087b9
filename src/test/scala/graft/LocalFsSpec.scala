package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{LocalFs, SpawnFreeLocalFileSystem, SpawnFreeLocalFs,
  SpawnFreeRawLocalFileSystem}

/** The spawn-free local file systems (`graft.streaming.LocalFs`) give the
  * stock answers without forking, and `App.start` binds them.
  */
class LocalFsSpec extends SparkSpecBase {
  import spark.implicits._

  private def initialized[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stockRaw = initialized(new RawLocalFileSystem)
  private lazy val spawnFreeRaw = initialized(new SpawnFreeRawLocalFileSystem)

  /** Full mode bits, sticky/setuid/setgid included. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Session confs `kvs` while `body` runs, set back afterwards. */
  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
  private def withAbstractFs[T](impl: String)(body: => T): T =
    withConfs(LocalFs.AbstractFsKey -> impl)(body)

  /** Commands of the processes the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body
    finally rec.stop()
    val file = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.map(_.getString("command")).toSeq
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  /** The `chmod`/`readlink` forks among `commands` that name a path under `root`. */
  private def fsForks(commands: Seq[String], root: JPath): Seq[String] =
    commands.filter(c => (c.startsWith("chmod") || c.contains("readlink")) &&
      c.contains(root.toString))

  test("setPermission matches the stock chmod, sticky bit through the stock fallback") {
    val dir = Files.createTempDirectory("graft_localfs_perm")
    def setBoth(mkPath: String => JPath, bits: Int): (Int, Int) = {
      val (a, b) = (mkPath(s"stock_$bits"), mkPath(s"spawnfree_$bits"))
      for (p <- Seq(a, b)) Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("---------"))
      stockRaw.setPermission(new Path(a.toUri), new FsPermission(bits.toShort))
      spawnFreeRaw.setPermission(new Path(b.toUri), new FsPermission(bits.toShort))
      (mode(a), mode(b))
    }
    for (bits <- Seq("644", "755", "600", "777").map(Integer.parseInt(_, 8))) {
      val (stock, ours) = setBoth(n => Files.createFile(dir.resolve(n)), bits)
      assert(ours === bits && stock === bits, f"mode $bits%o: stock $stock%o, spawn-free $ours%o")
    }
    // rwx-only NIO cannot set the sticky bit; the stock fallback does.
    val sticky = Integer.parseInt("1777", 8)
    val (stock, ours) = setBoth(n => Files.createDirectory(dir.resolve(n)), sticky)
    assert(ours === sticky && stock === sticky, f"stock $stock%o, spawn-free $ours%o")
    for (fs <- Seq(stockRaw, spawnFreeRaw))
      intercept[IOException](fs.setPermission(new Path(dir.resolve("missing").toUri), new FsPermission("644")))
  }

  test("getFileLinkStatus matches the stock answer: file, directory, missing path, symlink") {
    val dir = Files.createTempDirectory("graft_localfs_link")
    val file = Files.write(dir.resolve("file"), "x".getBytes("UTF-8"))
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen, s.getPermission, s.getOwner,
      s.getModificationTime)
    // Qualified (`file:`) paths are what checkpoint writers pass; bare
    // paths are the ones on which the stock `readlink` sees a real link.
    for (p <- Seq(file, sub, link); path <- Seq(new Path(p.toUri), new Path(p.toString)))
      assert(view(spawnFreeRaw.getFileLinkStatus(path)) === view(stockRaw.getFileLinkStatus(path)),
        s"$path")
    assert(spawnFreeRaw.getFileLinkStatus(new Path(link.toString)).isSymlink)
    for (fs <- Seq(stockRaw, spawnFreeRaw))
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("missing").toUri)))
  }

  test("a stateful checkpoint moves between the stock and spawn-free bindings") {
    implicit val sqlCtx = spark.sqlContext
    /** Two runs of a keyed count on one checkpoint: the first under
      * `first`, the restart under `second`. Returns the emitted rows and
      * the checkpoint's relative file names.
      */
    def run(first: String, second: String): (Seq[(Long, String, Long)], Seq[String]) = {
      val mem = MemoryStream[String]
      val ckp = Files.createTempDirectory("graft_localfs_ckp")
      val rows = mutable.ArrayBuffer.empty[(Long, String, Long)]
      for ((impl, batch) <- Seq(first -> Seq("a", "a", "b"), second -> Seq("a", "c")))
        withAbstractFs(impl) {
          mem.addData(batch)
          val q = mem.toDF().groupBy("value").count().writeStream
            .outputMode("update")
            .option("checkpointLocation", ckp.toString)
            .foreachBatch { (b: DataFrame, epoch: Long) =>
              val got = b.collect().map(r => (epoch, r.getString(0), r.getLong(1)))
              rows.synchronized { rows ++= got; () }
            }
            .start()
          try q.processAllAvailable()
          finally q.stop()
        }
      val names = Files.walk(ckp).iterator().asScala.filter(Files.isRegularFile(_))
        .map(ckp.relativize(_).toString).toSeq.sorted
      (rows.sorted.toSeq, names)
    }
    val spawnFree = classOf[SpawnFreeLocalFs].getName
    val stockOnly = run(LocalFs.StockAbstractFs, LocalFs.StockAbstractFs)
    // The restart read the first run's state: a's count carried over.
    assert(stockOnly._1 === Seq((0L, "a", 2L), (0L, "b", 1L), (1L, "a", 3L), (1L, "c", 1L)))
    assert(stockOnly._2.exists(_.endsWith(".crc")), stockOnly._2)
    assert(run(LocalFs.StockAbstractFs, spawnFree) === stockOnly)
    assert(run(spawnFree, LocalFs.StockAbstractFs) === stockOnly)
  }

  test("App.start drains the fan-out topology with no chmod or readlink fork under the checkpoint") {
    val dir = Files.createTempDirectory("graft_localfs_forks")
    // Negative control: one stock FileContext atomic write forks both.
    val probeDir = Files.createDirectories(dir.resolve("probe"))
    def atomicWrite(impl: String, name: String): Unit = {
      val conf = new Configuration()
      conf.set(LocalFs.AbstractFsKey, impl)
      val target = new Path(probeDir.resolve(name).toUri)
      val out = CheckpointFileManager.create(target.getParent, conf)
        .createAtomic(target, overwriteIfPossible = true)
      out.write(1)
      out.close()
    }
    val stockForks = fsForks(processStarts(atomicWrite(LocalFs.StockAbstractFs, "stock")), probeDir)
    assert(stockForks.exists(_.startsWith("chmod")) && stockForks.exists(_.contains("readlink")),
      s"the stock binding forked only: $stockForks")
    assert(fsForks(processStarts(atomicWrite(classOf[SpawnFreeLocalFs].getName, "spawnfree")),
      probeDir).isEmpty)

    // An explicit stock binding is the default, which App.start replaces.
    val commands = drainForks(dir, LocalFs.AbstractFsKey -> LocalFs.StockAbstractFs) {
      assert(spark.conf.get(LocalFs.AbstractFsKey) === classOf[SpawnFreeLocalFs].getName)
    }
    val ckpForks = fsForks(commands, dir.resolve("ckp"))
    assert(ckpForks.size === 0, ckpForks.take(3))
  }

  test("App.start drains the fan-out topology with no chmod under out/, over a stock FileSystem binding") {
    val dir = Files.createTempDirectory("graft_localfs_out")
    // The stock binding with the JVM-wide cache off for the session: a
    // parquet write through it forks `chmod` (the negative control).
    val stock = Seq(LocalFs.FsKey -> LocalFs.StockFs, LocalFs.FsCacheOffKey -> "true")
    val probe = dir.resolve("probe")
    val stockForks = fsForks(withConfs(stock: _*)(processStarts(
      spark.range(2).write.parquet(probe.toString))), probe)
    assert(stockForks.exists(_.startsWith("chmod")), s"the stock binding forked only: $stockForks")

    val commands = drainForks(dir, stock: _*) {
      assert(spark.conf.get(LocalFs.FsKey) === classOf[SpawnFreeLocalFileSystem].getName)
    }
    val out = dir.resolve("out")
    // gold5m created its store in batch 0 and merged batches 1 and 2;
    // stopAll flushed the metrics export.
    assert(Files.exists(out.resolve("gold5m/_graft_upsert_spec")))
    assert(Files.exists(out.resolve("_metrics/batches/_SUCCESS")))
    val outForks = fsForks(commands, out)
    assert(outForks.size === 0, s"${outForks.size} forks, first: ${outForks.take(3)}")
  }

  /** Drains three one-minute files through `App.start`'s fan-out
    * topology (bronze, silver, gold5m, gold1h, dead letters; the metrics
    * export on) under the production state store and `confs`, with
    * `started` run once the queries are up. Returns the commands of the
    * processes the JVM started meanwhile, `stopAll` included.
    */
  private def drainForks(dir: JPath, confs: (String, String)*)(started: => Unit): Seq[String] = {
    val t0 = 1705312800000L
    def line(sym: String, px: Double, ts: Long) =
      s"""{"symbol":"$sym","price":$px,"volume":1,"timestamp":$ts,"conditions":[],"ingestion_time":$ts}"""
    Files.createDirectories(dir.resolve("in"))
    for (i <- 0 until 3)
      Files.write(dir.resolve(s"in/part$i.json"),
        Seq(line("AAPL", 10.0 + i, t0 + i * 60000L), line("MSFT", 20.0 + i, t0 + i * 61000L))
          .mkString("\n").getBytes("UTF-8"))
    val ckp = dir.resolve("ckp")
    val cfg = App.Config(out = dir.resolve("out").toString, checkpoint = ckp.toString,
      layers = Set("bronze", "silver", "gold5m", "gold1h", "deadletter"),
      trigger = "available-now")
    val commands = withConfs(Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true") ++
      confs: _*) {
      processStarts {
        val raw = spark.readStream.option("maxFilesPerTrigger", "1").text(dir.resolve("in").toString)
        val mgr = App.start(spark, raw, cfg)
        try {
          started
          mgr.handles.values.foreach(_.awaitTermination(120000))
          assert(mgr.status.values.forall(!_), s"queries still active: ${mgr.status}")
        } finally mgr.stopAll()
      }
    }
    assert(Files.exists(ckp.resolve("gold5m/commits/2")), "the drain did not commit three batches")
    commands
  }

  test("App.start keeps a caller's non-default file system binding") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_localfs_keep")
    val custom = "org.apache.hadoop.fs.local.RawLocalFs"
    val customFs = classOf[RawLocalFileSystem].getName
    withConfs(LocalFs.AbstractFsKey -> custom, LocalFs.FsKey -> customFs) {
      val mgr = App.start(spark, MemoryStream[String].toDF(),
        App.Config(out = s"$dir/out", checkpoint = s"$dir/ckp", layers = Set("bronze")))
      try {
        assert(spark.conf.get(LocalFs.AbstractFsKey) === custom)
        assert(spark.conf.get(LocalFs.FsKey) === customFs)
        assert(spark.conf.getOption(LocalFs.FsCacheOffKey).isEmpty)
      } finally mgr.stopAll()
    }
  }

  test("an uncached spawn-free FileSystem starts no thread and keeps no handle open") {
    val dir = Files.createTempDirectory("graft_localfs_uncached")
    val conf = new Configuration()
    conf.set(LocalFs.FsKey, classOf[SpawnFreeLocalFileSystem].getName)
    conf.setBoolean(LocalFs.FsCacheOffKey, true)
    val root = new Path(dir.toUri)
    def use(i: Int): Unit = {
      val fs = root.getFileSystem(conf)
      val p = new Path(root, s"d$i/f")
      val out = fs.create(p)
      out.write(i)
      out.close()
      fs.setPermission(p, new FsPermission("644"))
      val in = fs.open(p)
      assert(in.read() === i)
      in.close()
      assert(fs.listStatus(p.getParent).map(_.getPath.getName).toSeq === Seq("f"))
      assert(Files.exists(dir.resolve(s"d$i/.f.crc")))
      fs.delete(p, false)
    }
    use(200) // loads the classes and opens the jars the calls need
    val first = root.getFileSystem(conf)
    assert(first.isInstanceOf[SpawnFreeLocalFileSystem] && (root.getFileSystem(conf) ne first),
      "the cache is not off")
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    val (threads0, fds0) = (threads.getThreadCount, os.getOpenFileDescriptorCount)
    (0 until 200).foreach(use)
    // 200 instances, none closed: slack for the session's own threads.
    assert(threads.getThreadCount - threads0 < 10, s"threads $threads0 -> ${threads.getThreadCount}")
    assert(os.getOpenFileDescriptorCount - fds0 < 10,
      s"open descriptors $fds0 -> ${os.getOpenFileDescriptorCount}")
  }
}
