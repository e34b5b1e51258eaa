package graft.cdc

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Scripted in-process AMQP 0-9-1 broker (test double): accepts ANY
  * number of connections — Spark publishes from one producer per task,
  * so a micro-batch with N partitions opens N sockets — performs the
  * full handshake on each, serves Queue.Declare, and records every
  * Basic.Publish delivery. A connection dropped without Connection.Close
  * (a completed Spark task abandoning its producer) is tolerated:
  * everything published before the drop is retained.
  *
  * Channel-aware: Channel.Open is served on any channel id, content
  * frames are reassembled PER CHANNEL (so interleaved publishes from a
  * channel pool are handled like a real broker), the channel id of
  * every delivery is recorded, and Confirm.Select arms per-channel
  * publisher confirms — each completed delivery on a confirm channel
  * gets a Basic.Ack unless `dropAcks` simulates a broker that takes
  * the message but never confirms it. `interleavedFrames` counts
  * frames that arrived inside another channel's method→header→body
  * sequence on the same connection: the client writes each publish
  * whole, so it should stay 0. */
private[cdc] class FakeAmqpBroker(tuneFrameMax: Long = 131072L,
    dropAcks: Boolean = false, fixedPort: Int = 0) {
  import AmqpWire._

  // bind with SO_REUSEADDR and a bounded retry: the bounce test
  // rebinds the SAME port right after the first incarnation's close,
  // and under suite-wide load the kernel can still hold the old
  // listener in TIME_WAIT for a beat — a raw `new ServerSocket(port)`
  // there is a flaky BindException
  private val server = {
    val s = new ServerSocket()
    s.setReuseAddress(true)
    var attempt = 0
    var bound = false
    while (!bound) {
      try { s.bind(new java.net.InetSocketAddress(fixedPort)); bound = true }
      catch { case e: java.net.BindException =>
        attempt += 1
        if (attempt >= 50) throw e
        Thread.sleep(100)
      }
    }
    s
  }
  val port: Int = server.getLocalPort
  private val buf = ArrayBuffer.empty[(String, String)] // (routingKey, body)
  private val pubChannels = mutable.Set.empty[Int]
  private val live = mutable.Set.empty[Socket]
  @volatile var auth: (String, String) = ("", "")
  @volatile var vhost: String = ""
  @volatile var declared: String = ""
  @volatile var error: Throwable = _
  @volatile private var closed = false
  private val interleaved = new java.util.concurrent.atomic.AtomicLong

  def interleavedFrames: Long = interleaved.get

  // every publish frame (Basic.Publish method, content header, body) as
  // read, re-encoded: the bytes the client put on the wire for them
  private val wire = new java.io.ByteArrayOutputStream()
  private def recordWire(f: Frame): Unit =
    wire.synchronized(writeFrame(wire, f.tpe, f.channel, f.payload))

  /** The publish frames of every connection, in arrival order. */
  def publishWire: Array[Byte] = wire.synchronized(wire.toByteArray)

  /** When set, the next Basic.Publish method frame hard-drops its
    * connection BEFORE any content is accepted — a deterministic
    * broker crash mid-publish: the producer has the method frame on
    * the wire but the broker never takes the body, so the message
    * must NOT count as delivered and the producer's retry must
    * redial. One-shot: auto-clears when it fires. */
  @volatile var crashOnNextPublish = false

  private val acceptor = new Thread(() => acceptLoop())
  acceptor.setDaemon(true)
  acceptor.start()

  def published: Seq[(String, String)] = buf.synchronized(buf.toList)

  /** Distinct channel ids deliveries arrived on (across connections). */
  def publishChannels: Set[Int] = buf.synchronized(pubChannels.toSet)

  /** Poll until `n` messages arrived (publish frames are read
    * asynchronously from the socket after the task returns). */
  def awaitPublished(n: Int, timeoutMs: Long = 10000): Seq[(String, String)] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (published.size < n && System.nanoTime() < deadline) Thread.sleep(10)
    val got = published
    require(got.size >= n, s"timed out: ${got.size}/$n messages")
    got
  }

  def stop(): Unit = { closed = true; server.close(); killConnections() }

  /** Hard-drop every live client socket (simulated broker crash). */
  def killConnections(): Unit = live.synchronized {
    live.foreach(s => try s.close() catch { case _: java.io.IOException => () })
    live.clear()
  }

  /** Drop every live client socket with a TCP reset (linger 0), as a
    * crashed host's kernel does: the client's next write fails, where
    * after a plain close its first write still succeeds. */
  def resetConnections(): Unit = live.synchronized {
    live.foreach { s =>
      try { s.setSoLinger(true, 0); s.close() }
      catch { case _: java.io.IOException => () }
    }
    live.clear()
  }

  private def acceptLoop(): Unit =
    try while (!closed) {
      val sock = server.accept()
      live.synchronized { live += sock; () }
      val t = new Thread(() => serve(sock))
      t.setDaemon(true)
      t.start()
    } catch { case _: SocketException => () /* stop() */ }

  // in-flight content state for one channel of one connection
  private final class Pending(val rk: String) {
    var expected: Long = -1L // unset until the content header arrives
    val body = new java.io.ByteArrayOutputStream()
  }

  private def serve(sock: Socket): Unit = try {
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)
    val hdr = new Array[Byte](8)
    in.readFully(hdr)
    require(hdr.sameElements(ProtocolHeader), "bad protocol header")
    writeFrame(out, FrameMethod, 0, method(ClassConnection, 10)(
      _.u8(0).u8(9).emptyTable().longstr("PLAIN").longstr("en_US")))
    val startOk = new Reader(readFrame(in).payload)
    require((startOk.u16(), startOk.u16()) == ((ClassConnection, 11)))
    startOk.skipTable()
    require(startOk.shortstr() == "PLAIN")
    val resp = new String(startOk.longstr(), UTF_8).split("\u0000")
    auth = (resp(1), resp(2)) // [authzid(empty), user, pass]
    writeFrame(out, FrameMethod, 0, method(ClassConnection, 30)(
      _.u16(2047).u32(tuneFrameMax).u16(0)))
    readFrame(in) // TuneOk
    val open = new Reader(readFrame(in).payload)
    require((open.u16(), open.u16()) == ((ClassConnection, 40)))
    vhost = open.shortstr()
    writeFrame(out, FrameMethod, 0, method(ClassConnection, 41)(_.shortstr("")))

    val pending = mutable.Map.empty[Int, Pending] // channel → in-flight content
    val confirming = mutable.Set.empty[Int] // channels with confirms armed
    val deliveryTag = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    var inContent = -1 // channel whose publish sequence is open, or -1

    def complete(ch: Int, p: Pending): Unit = {
      buf.synchronized {
        buf += ((p.rk, new String(p.body.toByteArray, UTF_8)))
        pubChannels += ch
        ()
      }
      pending.remove(ch)
      inContent = -1
      if (confirming(ch) && !dropAcks) {
        val tag = deliveryTag(ch) + 1
        deliveryTag(ch) = tag
        // Basic.Ack: delivery-tag u64, multiple bit 0
        writeFrame(out, FrameMethod, ch,
          method(ClassBasic, MethodBasicAck)(_.u64(tag).u8(0)))
      }
    }

    var running = true
    while (running) {
      val f = readFrame(in)
      if (inContent >= 0 && f.channel != inContent) interleaved.incrementAndGet()
      f.tpe match {
        case FrameMethod =>
          val r = new Reader(f.payload)
          (r.u16(), r.u16()) match {
            case (ClassChannel, 10) => // Channel.Open — any id
              writeFrame(out, FrameMethod, f.channel,
                method(ClassChannel, 11)(_.longstr("")))
            case (ClassConfirm, MethodConfirmSelect) =>
              confirming += f.channel
              writeFrame(out, FrameMethod, f.channel,
                method(ClassConfirm, MethodConfirmSelectOk)(w => w))
            case (ClassQueue, 10) =>
              r.u16() // ticket
              declared = r.shortstr()
              writeFrame(out, FrameMethod, f.channel, method(ClassQueue, 11)(
                _.shortstr(declared).u32(0L).u32(0L)))
            case (ClassBasic, 40) =>
              if (crashOnNextPublish) {
                crashOnNextPublish = false
                sock.close() // mid-publish crash: no content accepted
                running = false
              } else {
                r.u16() // ticket
                r.shortstr() // exchange ("")
                val rk = r.shortstr()
                require(!pending.contains(f.channel),
                  s"publish started on channel ${f.channel} mid-content")
                pending(f.channel) = new Pending(rk)
                inContent = f.channel
                recordWire(f)
              }
            case (ClassConnection, 50) =>
              writeFrame(out, FrameMethod, 0, method(ClassConnection, 51)(w => w))
              running = false
            case (c, m) => throw new AssertionError(s"unexpected method $c.$m")
          }
        case FrameHeader =>
          val p = pending.getOrElse(f.channel,
            throw new AssertionError(s"header without publish on ch ${f.channel}"))
          recordWire(f)
          val h = new Reader(f.payload)
          require(h.u16() == ClassBasic); h.u16() // weight
          p.expected = h.u64()
          if (p.expected == 0L) complete(f.channel, p)
        case FrameBody =>
          val p = pending.getOrElse(f.channel,
            throw new AssertionError(s"body without publish on ch ${f.channel}"))
          // a real broker rejects frames over the negotiated max —
          // enforce it so the client's body splitting is actually
          // verified, not just tolerated
          require(tuneFrameMax <= 8 || f.payload.length + 8 <= tuneFrameMax,
            s"body frame ${f.payload.length + 8}B exceeds frame-max $tuneFrameMax")
          recordWire(f)
          p.body.write(f.payload)
          if (p.expected >= 0 && p.body.size() >= p.expected)
            complete(f.channel, p)
        case other => throw new AssertionError(s"unexpected frame type $other")
      }
    }
    sock.close()
  } catch {
    case _: EOFException | _: SocketException => () // task dropped its producer
    case t: Throwable => error = t
  } finally live.synchronized { live -= sock; () }
}
