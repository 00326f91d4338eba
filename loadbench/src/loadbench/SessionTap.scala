package loadbench

import java.io.{InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/**
 * A pass-through TCP tap in front of each stream endpoint, used by the
 * traced run only. `StreamLoader` reports no per-session time, so the tap
 * times every session from accept until the replica's reply has been
 * passed back, and counts the bytes the sender put on the wire.
 */
final class SessionTap(targets: Map[String, (String, Int)]) {
  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "loadbench-tap"); t.setDaemon(true); t
    }
  })
  private val durations = new ConcurrentLinkedQueue[Double]()
  private val wireBytes = new AtomicLong()
  private val servers = targets.map { case (host, target) =>
    host -> (new ServerSocket(0, 64, InetAddress.getByName("127.0.0.1")), target)
  }

  /** host -> tap address, to hand to the loader instead of `targets`. */
  val endpoints: Map[String, (String, Int)] =
    servers.map { case (h, (s, _)) => h -> ("127.0.0.1" -> s.getLocalPort) }

  servers.values.foreach { case (server, (addr, port)) =>
    pool.execute(() => try {
      while (!server.isClosed) {
        val client = server.accept()
        val t0 = System.nanoTime()
        pool.execute(() => relay(client, addr, port, t0))
      }
    } catch { case _: java.io.IOException => () }) // closed server ends the loop
  }

  private def copy(in: InputStream, out: OutputStream, count: Boolean): Unit = {
    val buf = new Array[Byte](1 << 16)
    var n = in.read(buf)
    while (n >= 0) {
      out.write(buf, 0, n); out.flush()
      if (count) wireBytes.addAndGet(n)
      n = in.read(buf)
    }
  }

  private def relay(client: Socket, addr: String, port: Int, t0: Long): Unit = {
    val replica = new Socket(addr, port)
    try {
      pool.execute(() => try copy(client.getInputStream, replica.getOutputStream, count = true)
        catch { case _: java.io.IOException => () })
      copy(replica.getInputStream, client.getOutputStream, count = false)
      durations.add((System.nanoTime() - t0) / 1e6)
    } catch { case _: java.io.IOException => () }
    finally { client.close(); replica.close() }
  }

  /** Session times in ms, one per finished session. */
  def sessionMs: Seq[Double] = durations.asScala.toSeq
  def bytesIn: Long = wireBytes.get()

  def close(): Unit = {
    servers.values.foreach(_._1.close())
    pool.shutdownNow(); ()
  }
}
