package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** A loopback AMQP 0-9-1 broker that belongs to the benchmark. It
  * speaks the publisher half of the public protocol (handshake,
  * channel open, queue declare, Basic.Publish with content header and
  * body frames), reassembles each message body and checks it against
  * the multiset of bodies the benchmark said to expect. It keeps no
  * payloads: an expected body is dropped once it has arrived, and only
  * a 64-bit hash of it is kept so that a second arrival counts as a
  * duplicate rather than as a wrong body.
  *
  * `frameMax` is offered in Connection.Tune; bodies above it must
  * arrive split into several body frames, and a frame above it counts
  * as a protocol error. */
final class LoopbackBroker(val frameMax: Int = RelayMix.FrameMax) extends AutoCloseable {
  private val server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
  val port: Int = server.getLocalPort

  private val lock = new Object
  private val expected = new java.util.HashMap[String, Integer]()
  private val deliveredHashes = new java.util.HashSet[Long]()
  private var outstandingN = 0L
  val received = new AtomicLong()
  val duplicates = new AtomicLong()
  val wrongBodies = new AtomicLong()
  val resolvedPublished = new AtomicLong()
  val protocolErrors = new AtomicLong()
  @volatile var firstWrong: String = ""

  /** Epoch µs at which the current burst landed; arrivals record their
    * latency against it while `recording` is set. */
  @volatile var landedUs: Long = 0L
  @volatile var recording: Boolean = false
  private val latencies = new LongBuffer

  private val sockets = ConcurrentHashMap.newKeySet[Socket]()
  private val servers = ConcurrentHashMap.newKeySet[Thread]()
  private val endedCpuNs = new AtomicLong()
  @volatile private var closed = false
  private val acceptor = new Thread(() => acceptLoop(), "perfbench-broker-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def expect(bodies: Iterable[String]): Unit = lock.synchronized {
    bodies.foreach { b =>
      expected.merge(b, 1, (a: Integer, c: Integer) => Integer.valueOf(a + c))
      outstandingN += 1
    }
  }

  def outstanding: Long = lock.synchronized(outstandingN)

  /** CPU time the broker's threads have taken so far. */
  def cpuNs: Long = endedCpuNs.get + Cpu.threadNs(acceptor) + servers.asScala.toSeq.map(Cpu.threadNs).sum

  /** Latencies (µs) recorded since the last call. */
  def drainLatencies(): Array[Long] = latencies.drain()

  private def hash64(s: String): Long =
    (s.hashCode.toLong << 32) ^ (scala.util.hashing.MurmurHash3.stringHash(s).toLong & 0xffffffffL)

  /** Check one arrived body. Visible for the benchmark's self-test. */
  def deliver(body: Array[Byte]): Unit = {
    val s = new String(body, UTF_8)
    received.incrementAndGet()
    val now = Clock.nowUs
    lock.synchronized {
      val n = expected.get(s)
      if (n != null) {
        if (n == 1) expected.remove(s) else expected.put(s, n - 1)
        outstandingN -= 1
        deliveredHashes.add(hash64(s))
        if (recording) latencies.add(now - landedUs)
      } else if (deliveredHashes.contains(hash64(s))) duplicates.incrementAndGet()
      else {
        if (s.contains("\"resolved\"")) resolvedPublished.incrementAndGet()
        if (wrongBodies.getAndIncrement() == 0) firstWrong = s.take(200)
      }
    }
  }

  private def acceptLoop(): Unit =
    while (!closed) {
      try {
        val s = server.accept()
        sockets.add(s)
        val t = new Thread(() => serve(s), "perfbench-broker-conn")
        servers.add(t)
        t.setDaemon(true)
        t.start()
      } catch { case _: java.io.IOException => () }
    }

  // --- AMQP 0-9-1 framing (spec section 2.3) ---
  private def readFrame(in: DataInputStream): (Int, Int, Array[Byte]) = {
    val tpe = in.readUnsignedByte()
    val ch = in.readUnsignedShort()
    val size = in.readInt()
    val payload = new Array[Byte](size)
    in.readFully(payload)
    if (in.readUnsignedByte() != 0xCE) throw new java.io.IOException("bad frame end")
    if (size + 8 > frameMax) protocolErrors.incrementAndGet()
    (tpe, ch, payload)
  }

  private def writeFrame(out: DataOutputStream, tpe: Int, ch: Int, payload: Array[Byte]): Unit = {
    out.writeByte(tpe); out.writeShort(ch); out.writeInt(payload.length)
    out.write(payload); out.writeByte(0xCE); out.flush()
  }

  private def method(cls: Int, m: Int)(args: DataOutputStream => Unit): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val o = new DataOutputStream(bos)
    o.writeShort(cls); o.writeShort(m); args(o); o.flush()
    bos.toByteArray
  }

  private def shortstr(o: DataOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8); o.writeByte(b.length); o.write(b)
  }
  private def longstr(o: DataOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8); o.writeInt(b.length); o.write(b)
  }

  private def ids(p: Array[Byte]): (Int, Int) =
    (((p(0) & 0xff) << 8) | (p(1) & 0xff), ((p(2) & 0xff) << 8) | (p(3) & 0xff))

  private def serve(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    // per channel: remaining body bytes and the buffer being filled
    val pending = new java.util.HashMap[Int, (java.io.ByteArrayOutputStream, Array[Long])]()
    try {
      val header = new Array[Byte](8)
      in.readFully(header)
      writeFrame(out, 1, 0, method(10, 10) { o =>
        o.writeByte(0); o.writeByte(9); o.writeInt(0); longstr(o, "PLAIN"); longstr(o, "en_US")
      })
      readFrame(in) // StartOk
      writeFrame(out, 1, 0, method(10, 30) { o =>
        o.writeShort(16); o.writeInt(frameMax); o.writeShort(0)
      })
      readFrame(in) // TuneOk
      readFrame(in) // Open
      writeFrame(out, 1, 0, method(10, 41)(o => shortstr(o, "")))
      var open = true
      while (open) {
        val (tpe, ch, p) = readFrame(in)
        tpe match {
          case 1 => ids(p) match {
            case (20, 10) => writeFrame(out, 1, ch, method(20, 11)(o => longstr(o, "")))
            case (50, 10) =>
              val r = new DataInputStream(new java.io.ByteArrayInputStream(p, 4, p.length - 4))
              r.readUnsignedShort()
              val q = new Array[Byte](r.readUnsignedByte()); r.readFully(q)
              writeFrame(out, 1, ch, method(50, 11) { o =>
                shortstr(o, new String(q, UTF_8)); o.writeInt(0); o.writeInt(0)
              })
            case (60, 40) => pending.put(ch, null)
            case (20, 40) => writeFrame(out, 1, ch, method(20, 41)(_ => ()))
            case (10, 50) => writeFrame(out, 1, 0, method(10, 51)(_ => ())); open = false
            case _ => protocolErrors.incrementAndGet()
          }
          case 2 =>
            val size = new DataInputStream(new java.io.ByteArrayInputStream(p, 4, 8)).readLong()
            if (size == 0) { deliver(Array.emptyByteArray); pending.remove(ch) }
            else pending.put(ch, (new java.io.ByteArrayOutputStream(size.toInt), Array(size)))
          case 3 =>
            val st = pending.get(ch)
            if (st == null) protocolErrors.incrementAndGet()
            else {
              st._1.write(p)
              st._2(0) -= p.length
              if (st._2(0) <= 0) {
                if (st._2(0) < 0) protocolErrors.incrementAndGet()
                deliver(st._1.toByteArray)
                pending.remove(ch)
              }
            }
          case _ => protocolErrors.incrementAndGet()
        }
      }
    } catch {
      case _: EOFException | _: java.net.SocketException => ()
    } finally {
      sockets.remove(sock)
      sock.close()
      endedCpuNs.addAndGet(Cpu.threadNs)
      servers.remove(Thread.currentThread())
    }
  }

  override def close(): Unit = {
    closed = true
    server.close()
    sockets.forEach(s => s.close())
    acceptor.join(5000)
  }
}

/** A growable array of longs, appended to under its own lock. */
final class LongBuffer {
  private var a = new Array[Long](1 << 16)
  private var n = 0
  def add(v: Long): Unit = synchronized {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v
    n += 1
  }
  def snapshot(): Array[Long] = synchronized(java.util.Arrays.copyOf(a, n))
  def drain(): Array[Long] = synchronized {
    val r = java.util.Arrays.copyOf(a, n)
    n = 0
    r
  }
}
