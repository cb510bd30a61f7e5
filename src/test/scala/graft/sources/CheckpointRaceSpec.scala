package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.scratch

/** The txn checkpoint is replaced atomically: writers racing on it (two
  * vacuums of one table) each install a whole file, and a reader decodes
  * one writer's state, never a mix or a torn prefix. In this package
  * because the checkpoint codec is package-private.
  */
class CheckpointRaceSpec extends AnyFunSuite {

  test("two threads racing writeCheckpoint never leave a torn checkpoint for a reader") {
    val root = scratch("ckpt_race_")
    // ~100 KB each: one write takes many syscalls, so a shared temporary
    // file would interleave the two writers' bytes.
    def state(tag: Long) = (0 until 4000).map(i => s"app-$i" -> (tag * 100000L + i)).toMap
    val states = Seq(state(1L), state(2L))
    Manifest.writeCheckpoint(root, states.head)

    val failures = new ConcurrentLinkedQueue[Throwable]()
    @volatile var done = false
    @volatile var reads = 0
    val reader = new Thread(() => while (!done) {
      try {
        val got = Manifest.readCheckpoint(root)
        reads += 1
        if (!states.contains(got))
          failures.add(new AssertionError(s"decoded a checkpoint of ${got.size} apps that no writer wrote"))
      } catch { case t: Throwable => failures.add(t) }
    })
    val writers = states.map(s => new Thread(() =>
      try (0 until 200).foreach(_ => Manifest.writeCheckpoint(root, s))
      catch { case t: Throwable => failures.add(t) }))
    reader.start()
    writers.foreach(_.start())
    try writers.foreach(_.join())
    finally { done = true; reader.join() }

    assert(failures.isEmpty, s"${failures.size} failures over $reads reads; first: ${failures.peek()}")
    assert(reads > 0)
    assert(states.contains(Manifest.readCheckpoint(root)))
    val log = Files.list(Paths.get(root, Manifest.Dir))
    val debris = try log.iterator().asScala.filter(_.toString.endsWith(".tmp")).toList
      finally log.close()
    assert(debris.isEmpty, s"writers left temporary files: $debris")
  }
}
