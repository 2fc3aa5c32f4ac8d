package graft

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.{Files, StandardOpenOption}

import graft.model.SessionTuning
import org.scalatest.funsuite.AnyFunSuite

class SessionTuningSpec extends AnyFunSuite {

  test("sweepStaleDirs keeps a locked dir of an unknown pid and removes an unlocked old one") {
    val shm = Files.createTempDirectory("graft-sweep").toFile
    // pids above the kernel's largest pid_max (2^22) are never alive
    val locked = new File(shm, "graft-spark-4194400")
    val stale = new File(shm, "graft-spark-4194401")
    val old = System.currentTimeMillis() - 24L * 3600 * 1000
    Seq(locked, stale).foreach { d =>
      assert(d.mkdirs())
      Files.write(new File(d, "block").toPath, Array[Byte](1, 2, 3))
      assert(d.setLastModified(old))
    }
    // the live owner of `locked` (another JVM in production) holds its lock
    val ch = FileChannel.open(new File(locked, ".graft-lock").toPath,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    val lock = ch.lock()
    assert(locked.setLastModified(old))
    try {
      SessionTuning.sweepStaleDirs(shm)
      assert(locked.isDirectory, "a locked dir was swept")
      assert(!stale.exists(), "an unlocked old dir survived")
    } finally {
      lock.release(); ch.close()
      Option(locked.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      locked.delete(); shm.delete()
    }
  }

  test("sweepStaleDirs keeps an unlocked dir younger than the age floor") {
    val shm = Files.createTempDirectory("graft-sweep").toFile
    val fresh = new File(shm, "graft-spark-4194402")
    assert(fresh.mkdirs())
    try {
      SessionTuning.sweepStaleDirs(shm)
      assert(fresh.isDirectory, "a fresh dir was swept")
    } finally {
      Option(fresh.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      fresh.delete(); shm.delete()
    }
  }
}
