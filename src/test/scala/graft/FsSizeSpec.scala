package graft

import java.io.{File, RandomAccessFile}
import java.nio.file.Files

import graft.core.FsSize

/** Sizing decisions read their input size through the Hadoop FileSystem
  * of the path's scheme. The thresholds are checked on both sides with
  * sparse files (logical length, no disk), and once over a non-`file:`
  * scheme where a `java.io.File` walk would read 0 bytes.
  */
class FsSizeSpec extends SparkSuite {

  private val MiB = 1L << 20

  /** A fresh dir holding one sparse file per requested length. */
  private def dirOf(lengths: Long*): String = {
    val d = Files.createTempDirectory("graft-fssize").toFile
    d.deleteOnExit()
    lengths.zipWithIndex.foreach { case (n, i) =>
      val f = new File(d, s"part-$i.parquet")
      f.deleteOnExit()
      val raf = new RandomAccessFile(f, "rw")
      try raf.setLength(n) finally raf.close()
    }
    d.getPath
  }

  test("bytes sums a directory tree; a missing path is 0") {
    val d = dirOf(3 * MiB, 5)
    val sub = new File(d, "nested"); sub.mkdir(); sub.deleteOnExit()
    val raf = new RandomAccessFile(new File(sub, "x"), "rw")
    try raf.setLength(7) finally raf.close()
    new File(sub, "x").deleteOnExit()
    assert(FsSize.bytes(d) === 3 * MiB + 12)
    assert(FsSize.bytes(s"file://$d") === 3 * MiB + 12)
    assert(FsSize.bytes(s"$d/does-not-exist") === 0L)
  }

  test("model pin: 2 MiB threshold") {
    assert(QueriesTraining.PinCorpusMinBytes === 2 * MiB)
    assert(!QueriesTraining.pinsModel(FsSize.bytes(dirOf(MiB, MiB - 1))))
    assert(QueriesTraining.pinsModel(FsSize.bytes(dirOf(MiB, MiB))))
  }

  test("stream-join state width: clamped to [4, 32], 1 per MiB between") {
    def width(lengths: Long*) = QueriesCdc.joinStateWidth(FsSize.bytes(dirOf(lengths: _*)))
    assert(width() === 4)
    assert(width(4 * MiB, MiB - 1) === 4)
    assert(width(5 * MiB) === 5)
    assert(width(31 * MiB, MiB - 1) === 31)
    assert(width(32 * MiB) === 32)
    assert(width(40 * MiB) === 32)
  }

  test("a non-file scheme is sized through its FileSystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfs.impl", classOf[GraftFs].getName)
    conf.set("fs.graftfs.impl.disable.cache", "true")
    try {
      val d = dirOf(2 * MiB)
      val uri = s"graftfs://$d"
      assert(!new File(uri).exists()) // what the java.io.File walk saw: 0 bytes
      assert(FsSize.bytes(uri) === 2 * MiB)
      assert(QueriesTraining.pinsModel(FsSize.bytes(uri)))
    } finally {
      conf.unset("fs.graftfs.impl")
      conf.unset("fs.graftfs.impl.disable.cache")
    }
  }
}
