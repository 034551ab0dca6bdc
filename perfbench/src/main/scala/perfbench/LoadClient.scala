package perfbench

import java.io.IOException
import java.net.{InetSocketAddress, StandardSocketOptions}
import java.nio.ByteBuffer
import java.nio.channels.{SelectionKey, Selector, SocketChannel}
import java.util.concurrent.locks.LockSupport

/** Per-request outcome of one open-loop drive, all times `System.nanoTime`.
  * `status` is the HTTP status, or [[LoadClient.Error]] for a connect/read
  * failure and [[LoadClient.Timeout]] for a request with no answer in time. */
final class LoadResult(val n: Int) {
  val sched = new Array[Long](n)
  val sent = new Array[Long](n)
  val done = new Array[Long](n)
  val status = new Array[Int](n)

  def ok(i: Int): Boolean = status(i) >= 200 && status(i) < 400
  def failures: Int = (0 until n).count(i => !ok(i))
}

/** The open-loop load generator: one thread, one selector, `conns`
  * keep-alive HTTP/1.1 connections over loopback. Request `i` is due at
  * `start + i * interval`, whatever happened to earlier requests; a due
  * request waits for a free connection, and its latency is timed from the
  * due time, so a stall is charged to every request it delays. */
object LoadClient {
  val Error = -1
  val Timeout = -2

  private val CrLfCrLf = "\r\n\r\n".getBytes("US-ASCII")

  private final class Conn(val port: Int) {
    var ch: SocketChannel = _
    var key: SelectionKey = _
    var req = -1
    var out: ByteBuffer = _
    var in: ByteBuffer = ByteBuffer.allocate(16 * 1024)

    def open(sel: Selector): Unit = {
      ch = SocketChannel.open(new InetSocketAddress("127.0.0.1", port))
      ch.setOption(StandardSocketOptions.TCP_NODELAY, java.lang.Boolean.TRUE)
      ch.configureBlocking(false)
      key = ch.register(sel, SelectionKey.OP_READ, this)
      in.clear()
      req = -1
    }

    def close(): Unit = try { key.cancel(); ch.close() } catch { case _: IOException => () }
  }

  /** Parse one complete response at the head of `buf` (positions
    * [0, limit)). Returns (status, total bytes) or null if incomplete. */
  private def parse(buf: ByteBuffer): (Int, Int) = {
    val a = buf.array()
    val lim = buf.position()
    var i = 0
    var end = -1
    while (end < 0 && i + 3 < lim) {
      if (a(i) == CrLfCrLf(0) && a(i + 1) == CrLfCrLf(1) &&
          a(i + 2) == CrLfCrLf(2) && a(i + 3) == CrLfCrLf(3)) end = i
      i += 1
    }
    if (end < 0) return null
    val head = new String(a, 0, end, "ISO-8859-1")
    val lines = head.split("\r\n")
    val status = lines(0).split(" ")(1).toInt
    var len = 0
    lines.iterator.drop(1).foreach { l =>
      val c = l.indexOf(':')
      if (c > 0) {
        val k = l.substring(0, c).trim
        if (k.equalsIgnoreCase("Content-Length")) len = l.substring(c + 1).trim.toInt
        else if (k.equalsIgnoreCase("Transfer-Encoding"))
          throw new IOException("chunked response not expected")
      }
    }
    val total = end + 4 + len
    if (lim >= total) (status, total) else null
  }

  /** Drive `reqs` open-loop from `startNanos` at one request per
    * `intervalNanos`. Returns when every request has an outcome. `lag`
    * (send minus due time) is `sent - sched` in the result. */
  def run(port: Int, reqs: Array[Array[Byte]], startNanos: Long,
      intervalNanos: Double, conns: Int, timeoutNanos: Long): LoadResult = {
    val n = reqs.length
    val res = new LoadResult(n)
    var i = 0
    while (i < n) { res.sched(i) = startNanos + (i * intervalNanos).toLong; i += 1 }
    val sel = Selector.open()
    val all = Array.fill(conns)(new Conn(port))
    val idle = new java.util.ArrayDeque[Conn]()
    val pending = new java.util.ArrayDeque[Integer]()
    try {
      all.foreach { c => c.open(sel); idle.add(c) }
      var next = 0
      var completed = 0
      var lastTimeoutScan = System.nanoTime()

      def finish(c: Conn, status: Int, now: Long): Unit = {
        res.status(c.req) = status
        res.done(c.req) = now
        completed += 1
        c.req = -1
      }
      def reopen(c: Conn): Unit = {
        c.close()
        try { c.open(sel); idle.add(c) }
        catch { case _: IOException => () } // retried on the next timeout scan
      }
      def send(idx: Int, c: Conn): Unit = {
        c.req = idx
        res.sent(idx) = System.nanoTime()
        c.out = ByteBuffer.wrap(reqs(idx))
        try {
          c.ch.write(c.out)
          if (c.out.hasRemaining) c.key.interestOps(SelectionKey.OP_READ | SelectionKey.OP_WRITE)
        } catch {
          case _: IOException => finish(c, Error, System.nanoTime()); reopen(c)
        }
      }

      while (completed < n) {
        var now = System.nanoTime()
        while (next < n && res.sched(next) <= now) { pending.add(next); next += 1 }
        while (!pending.isEmpty && !idle.isEmpty) send(pending.poll(), idle.poll())
        now = System.nanoTime()
        val untilNext = if (next < n) res.sched(next) - now else 1000000L
        val ready =
          if (untilNext >= 2000000L) sel.select(untilNext / 1000000L - 1)
          else {
            val k = sel.selectNow()
            if (k == 0 && untilNext > 0) LockSupport.parkNanos(math.min(untilNext, 50000L))
            k
          }
        if (ready > 0) {
          val it = sel.selectedKeys().iterator()
          while (it.hasNext) {
            val key = it.next(); it.remove()
            val c = key.attachment().asInstanceOf[Conn]
            try {
              if (key.isValid && key.isWritable && c.out != null) {
                c.ch.write(c.out)
                if (!c.out.hasRemaining) key.interestOps(SelectionKey.OP_READ)
              }
              if (key.isValid && key.isReadable) {
                if (!c.in.hasRemaining) {
                  val bigger = ByteBuffer.allocate(c.in.capacity * 2)
                  c.in.flip(); bigger.put(c.in); c.in = bigger
                }
                val r = c.ch.read(c.in)
                if (r < 0) throw new IOException("connection closed")
                val parsed = parse(c.in)
                if (parsed != null && c.req >= 0) {
                  val (status, total) = parsed
                  c.in.flip(); c.in.position(total); c.in.compact()
                  finish(c, status, System.nanoTime())
                  idle.add(c)
                }
              }
            } catch {
              case _: IOException | _: NumberFormatException | _: ArrayIndexOutOfBoundsException =>
                if (c.req >= 0) finish(c, Error, System.nanoTime())
                idle.remove(c)
                reopen(c)
            }
          }
        }
        now = System.nanoTime()
        if (now - lastTimeoutScan > 100000000L) {
          lastTimeoutScan = now
          all.foreach { c =>
            if (c.req >= 0 && now - res.sent(c.req) > timeoutNanos) {
              finish(c, Timeout, now); reopen(c)
            } else if (c.req < 0 && !c.ch.isOpen && !idle.contains(c)) reopen(c)
          }
        }
      }
    } finally {
      all.foreach(_.close())
      sel.close()
    }
    res
  }
}
