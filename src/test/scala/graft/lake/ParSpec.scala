package graft.lake

import java.nio.file.NoSuchFileException
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Par.map]]: one shared pool, nested calls, the failure contract. */
class ParSpec extends AnyFunSuite {

  test("repeated calls share one pool of at most 8 daemon threads") {
    val ran = ConcurrentHashMap.newKeySet[Thread]()
    (0 until 200).foreach { i =>
      assert(Par.map(0 until 16) { x => ran.add(Thread.currentThread()); x + i } == (0 until 16).map(_ + i))
    }
    assert(ran.size <= Par.Threads, s"${ran.size} threads ran the tasks of 200 calls")
    assert(ran.asScala.forall(_.isDaemon))
    val alive = Thread.getAllStackTraces.keySet.asScala.count(_.getName.startsWith("graft-par-"))
    assert(alive <= Par.Threads, s"$alive Par threads alive")
  }

  test("a nested call finishes") {
    val outer = CompletableFuture.supplyAsync(() =>
      Par.map(0 until 16)(i => Par.map(0 until 16)(j => i * j).sum))
    assert(outer.get(60, TimeUnit.SECONDS) == (0 until 16).map(_ * 120))
  }

  test("a task's own exception fails the call") {
    val e = intercept[NoSuchFileException] {
      Par.map(0 until 20) { i =>
        if (i == 5) throw new NoSuchFileException("item-5")
        Thread.sleep(10)
        i
      }
    }
    assert(e.getMessage == "item-5")
  }
}
