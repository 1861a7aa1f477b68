package graft

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem,
  FileAlreadyExistsException, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

import graft.core.{LocalCheckpointFileManager, NioLocalFileSystem, Scratch}

/** `FileContext` file system for a made-up scheme, so the non-`file:`
  * branch of [[LocalCheckpointFileManager]] can be resolved offline.
  */
class MockSchemeFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem, conf,
      "graftmock", false)

/** The fork-free local file system and checkpoint manager keep every
  * integrity property of the stock ones: atomic temp-file-plus-rename
  * commits, Hadoop `.crc` sidecars that are verified on read, and the
  * same file modes.
  */
class LocalFsSpec extends SparkSpecBase {

  private def withDir(body: File => Unit): Unit = {
    val d = Files.createTempDirectory("graft-localfs").toFile
    try body(d) finally Scratch.delete(d)
  }

  private def manager(dir: File): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toURI), spark.sessionState.newHadoopConf())

  private def write(fm: CheckpointFileManager, p: Path, overwrite: Boolean,
                    text: String): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: File): Set[String] = dir.list().toSet

  // `fs` is protected in Scala and public in bytecode
  private def fsOf(fm: CheckpointFileManager): FileSystem =
    classOf[FileSystemBasedCheckpointFileManager].getMethod("fs")
      .invoke(fm.asInstanceOf[LocalCheckpointFileManager].delegate)
      .asInstanceOf[FileSystem]

  test("createAtomic without overwrite refuses an existing path, " +
    "leaving the same files as Spark's default manager") {
    def refuse(fm: CheckpointFileManager, d: File): Set[String] = {
      val p = new Path(new Path(d.toURI), "0")
      fm.mkdirs(p.getParent)
      write(fm, p, overwrite = false, "first")
      intercept[FileAlreadyExistsException](write(fm, p, overwrite = false, "second"))
      assert(read(fm, p) == "first")
      names(d).map(_.replaceAll("[0-9a-f-]{36}", "<uuid>"))
    }
    withDir { d =>
      val stockConf = spark.sessionState.newHadoopConf()
      stockConf.unset(LocalCheckpointFileManager.ClassKey)
      val stockDir = new File(d, "stock")
      val stock = refuse(CheckpointFileManager.create(new Path(stockDir.toURI), stockConf),
        stockDir)
      val graftDir = new File(d, "graft")
      // both keep the refused temp file and its sidecar, as Spark does
      assert(refuse(manager(graftDir), graftDir) == stock)
      assert(stock.filterNot(_.contains(".tmp")) == Set("0", ".0.crc"))
    }
  }

  test("createAtomic with overwrite replaces the file") {
    withDir { d =>
      val fm = manager(d)
      val p = new Path(new Path(d.toURI), "0")
      write(fm, p, overwrite = false, "first")
      write(fm, p, overwrite = true, "second, longer")
      assert(read(fm, p) == "second, longer")
      assert(names(d) == Set("0", ".0.crc"))
    }
  }

  test("cancel() leaves no file behind") {
    withDir { d =>
      val fm = manager(d)
      val p = new Path(new Path(d.toURI), "0")
      val out = fm.createAtomic(p, false)
      out.write("never committed".getBytes(UTF_8))
      out.cancel()
      assert(!fm.exists(p))
      assert(names(d).isEmpty)
    }
  }

  test("the .crc sidecar is written and a flipped byte fails the read") {
    withDir { d =>
      val fm = manager(d)
      val p = new Path(new Path(d.toURI), "1.delta")
      write(fm, p, overwrite = false, "x" * 1000)
      assert(new File(d, ".1.delta.crc").length() > 0)
      val f = new File(d, "1.delta").toPath
      val bytes = Files.readAllBytes(f)
      bytes(500) = (bytes(500) ^ 1).toByte
      Files.write(f, bytes)
      intercept[ChecksumException](read(fm, p))
      // a local file has one replica: the corrupt file is reported, not
      // moved aside
      assert(names(d) == Set("1.delta", ".1.delta.crc"))
    }
  }

  test("file and directory modes equal the stock LocalFileSystem's") {
    def modes(fs: FileSystem, root: File): Map[String, Int] = {
      val base = new Path(root.toURI)
      fs.create(new Path(base, "a/b/file")).close()
      fs.mkdirs(new Path(base, "c/d"))
      fs.create(new Path(base, "private")).close()
      fs.setPermission(new Path(base, "private"), new FsPermission("0600"))
      fs.mkdirs(new Path(base, "shared"))
      fs.setPermission(new Path(base, "shared"), new FsPermission("1777"))
      Seq("a", "a/b", "a/b/file", "a/b/.file.crc", "c", "c/d", "private", "shared")
        .map(n => n -> (Files.getAttribute(new File(root, n).toPath, "unix:mode")
          .asInstanceOf[Int] & 0xfff)).toMap
    }
    def fresh(fs: LocalFileSystem): LocalFileSystem = {
      fs.initialize(URI.create("file:///"), new Configuration())
      fs
    }
    withDir { d =>
      val stockFs = fresh(new LocalFileSystem())
      val nioFs = fresh(new NioLocalFileSystem())
      try {
        val stock = modes(stockFs, new File(d, "stock"))
        val nio = modes(nioFs, new File(d, "nio"))
        assert(nio == stock)
        // the default 022 umask: 644 files, 755 directories
        assert(nio("a/b/file") == 0x1a4 && nio("c/d") == 0x1ed)
        assert(nio("shared") == 0x3ff) // 1777 keeps its sticky bit
      } finally { stockFs.close(); nioFs.close() }
    }
  }

  test("a non-file scheme gets exactly Spark's default manager") {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.AbstractFileSystem.graftmock.impl", classOf[MockSchemeFs].getName)
    val p = new Path("graftmock://host/checkpoint")
    val fm = CheckpointFileManager.create(p, conf)
    val delegate = fm.asInstanceOf[LocalCheckpointFileManager].delegate
    assert(delegate.isInstanceOf[FileContextBasedCheckpointFileManager])
    conf.unset(LocalCheckpointFileManager.ClassKey)
    assert(delegate.getClass == CheckpointFileManager.create(p, conf).getClass)
  }

  test("a GraftSession.tuned session resolves file: I/O and checkpoint " +
    "managers to the fork-free classes") {
    val conf = spark.sessionState.newHadoopConf()
    val cached = FileSystem.get(URI.create("file:///"), conf)
    assert(cached.isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
    withDir { d =>
      // qualified and scheme-less checkpoint paths alike
      Seq(new Path(d.toURI), new Path(d.getAbsolutePath)).foreach { p =>
        val fm = CheckpointFileManager.create(p, conf)
        assert(fm.isInstanceOf[LocalCheckpointFileManager])
        assert(fsOf(fm).isInstanceOf[NioLocalFileSystem])
        // not the cached file:/// instance, so a stock one cached before
        // the session started could not be handed out here
        assert(fsOf(fm) ne cached)
      }
    }
  }
}
