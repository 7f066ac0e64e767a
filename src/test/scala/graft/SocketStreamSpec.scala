package graft

import java.io.PrintWriter
import java.net.ServerSocket

import org.scalatest.funsuite.AnyFunSuite

import graft.model.StreamParams
import graft.streaming.{FrequentItemsStream, SamplerState}

/** End-to-end socket parity with the reference's input contract
  * (`big_data_computing_3.py:62`): a TCP server feeds integer lines; the
  * streaming query must fold them, in the order they were sent, and stop
  * itself at n. */
class SocketStreamSpec extends AnyFunSuite with SharedSpark {

  test("socket text stream: fold integers, stop at n") {
    val p = StreamParams(500L, 0.04, 0.02, 0.1)
    val server = new ServerSocket(0)
    val feeder = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new PrintWriter(sock.getOutputStream)
        var i = 0
        while (i < 2000 && !out.checkError()) {
          out.println(i % 20)
          i += 1
          if (i % 100 == 0) { out.flush(); Thread.sleep(5) }
        }
        out.flush()
        Thread.sleep(30000) // keep the connection open; the query stops itself
        sock.close()
      } catch { case _: Throwable => () }
    })
    feeder.setDaemon(true)
    feeder.start()

    val stream = FrequentItemsStream.socketItems(spark, "localhost", server.getLocalPort)
    val (state, query) = FrequentItemsStream.run(stream, p, seed = 11L, queryName = "t_socket")
    query.awaitTermination(60000)
    if (query.isActive) query.stop()
    server.close()

    assert(state.processed >= p.n, s"processed ${state.processed} < n")
    assert(state.reservoir.length == p.reservoirSize)
    assert(state.exact.values.sum == state.processed)
    // items 0..19 uniformly → each ~5% of the stream, above phi = 4%
    assert(state.trueFrequent.nonEmpty)
  }

  test("socket fold sees arrival order") {
    // Spark's socket source deals each micro-batch round-robin over its
    // partitions; the reservoir and sticky traces depend on the order of the
    // fold, so they equal a driver-side replay of the sent sequence only if
    // the runner undoes that deal. Bursts of 600 lines against a 100 ms
    // trigger make every batch span all partitions.
    val p = StreamParams(3000L, 0.02, 0.01, 0.1)
    val rng = new scala.util.Random(5L)
    val sent = Array.fill(4800)(rng.nextInt(200).toLong)
    val server = new ServerSocket(0)
    val feeder = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new PrintWriter(sock.getOutputStream)
        sent.grouped(600).foreach { burst =>
          burst.foreach(out.println)
          out.flush()
          Thread.sleep(250)
        }
        Thread.sleep(30000) // keep the connection open; the query stops itself
        sock.close()
      } catch { case _: Throwable => () }
    })
    feeder.setDaemon(true)
    feeder.start()

    val stream = FrequentItemsStream.socketItems(spark, "localhost", server.getLocalPort)
    val (state, query) = FrequentItemsStream.run(stream, p, seed = 17L, queryName = "t_socket_order")
    query.awaitTermination(60000)
    if (query.isActive) query.stop()
    server.close()

    assert(state.processed >= p.n && state.processed <= sent.length)
    val replay = new SamplerState(p, seed = 17L)
    replay.fold(sent.take(state.processed.toInt))
    assert(state.exact == replay.exact)
    assert(state.reservoir == replay.reservoir, "reservoir differs from the arrival-order replay")
    assert(state.sticky == replay.sticky, "sticky table differs from the arrival-order replay")
  }
}
