package graft.transport

import java.util.concurrent.atomic.AtomicLong

import io.netty.bootstrap.ServerBootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http2._
import org.apache.spark.sql.SparkSession

/** S1 transport — the reference's gRPC OTLP receiver
  * (internal/receiver/otlp.go:42-68: a grpc-go server registering
  * `pmetricotlp`'s MetricsService), closing the one declared scope cut of
  * rounds 7-10: no grpc-java ships in this build, but Netty's HTTP/2 codec
  * does (netty-codec-http2 is on Spark's own classpath), and gRPC is a thin,
  * publicly-specified layer over HTTP/2 — length-prefixed protobuf messages
  * in DATA frames, status in HEADERS trailers. So the receiver speaks real
  * wire-level gRPC over cleartext HTTP/2 (h2c prior-knowledge, what
  * `grpc.NewServer` on a plain listener speaks) with Netty handling framing,
  * HPACK, and flow control, and [[OtlpProto]] handling the OTLP protobuf.
  *
  * One unary method is served, exactly the reference's surface:
  *
  *   /opentelemetry.proto.collector.metrics.v1.MetricsService/Export
  *
  * Semantics mirror otlp.go:71-90 — an export with zero datapoints acks
  * without processing; a decode failure is INVALID_ARGUMENT; a processing
  * failure is INTERNAL; success is an empty ExportMetricsServiceResponse
  * with grpc-status 0. Ingest hand-off is the same landing-zone protocol as
  * [[RemoteReadServer]]'s `/ingest`: the batch lands atomically as a parquet
  * file of export rows in the watched source dir and the app's file stream
  * picks it up — the receiver is transport, the pipeline stays the pipeline.
  *
  * Hardening the reference has (and one it lacks): the 100 MiB message cap
  * (otlp.go:49-50) is enforced WHILE streaming — a stream that exceeds it is
  * failed with RESOURCE_EXHAUSTED and reset mid-flight, not buffered to
  * completion first.
  */
class GrpcOtlpReceiver(spark: SparkSession, sourceDir: String,
    maxMessageBytes: Int = GrpcOtlpReceiver.DefaultMaxMessageBytes) {

  import GrpcOtlpReceiver._

  private var group: MultiThreadIoEventLoopGroup = _
  private var serverChannel: Channel = _
  private var pool: java.util.concurrent.ExecutorService = _
  private val uploads = new AtomicLong(0)

  def start(port: Int = 0): Int = synchronized {
    group = new MultiThreadIoEventLoopGroup(2, NioIoHandler.newFactory())
    // Spark jobs must never run on the event loop: a parquet write blocks
    // for Spark-job time, and the loop also carries every other stream's
    // frames (the reference gets this per-call goroutine isolation from
    // grpc-go for free)
    pool = java.util.concurrent.Executors.newCachedThreadPool()
    val b = new ServerBootstrap()
      .group(group)
      .channel(classOf[NioServerSocketChannel])
      .childHandler(new ChannelInitializer[SocketChannel] {
        override def initChannel(ch: SocketChannel): Unit = {
          ch.pipeline().addLast(
            Http2FrameCodecBuilder.forServer().build(),
            new ConnectionHandler())
        }
      })
    serverChannel = b.bind("127.0.0.1", port).sync().channel()
    serverChannel.localAddress()
      .asInstanceOf[java.net.InetSocketAddress].getPort
  }

  def stop(): Unit = synchronized {
    if (serverChannel != null) { serverChannel.close().sync(); serverChannel = null }
    if (group != null) { group.shutdownGracefully(0, 500, java.util.concurrent.TimeUnit.MILLISECONDS); group = null }
    if (pool != null) { pool.shutdown(); pool = null }
  }

  /** Per-stream inbound state: request headers + accumulated gRPC frame
    * bytes. `done` marks streams already answered (early error) whose
    * remaining frames are drained and dropped. */
  private final class StreamState(val headers: Http2Headers) {
    val body = new java.io.ByteArrayOutputStream()
    var done = false
    var gzip = false
  }

  private final class ConnectionHandler extends ChannelInboundHandlerAdapter {
    private val streams =
      new java.util.HashMap[Http2FrameStream, StreamState]()
    // highest client stream id seen on this connection — distinguishes a
    // genuinely new stream (id above the watermark) from late frames on a
    // stream already answered and dropped from the map
    private var maxSeenStreamId = 0

    override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit =
      msg match {
        case h: Http2HeadersFrame => onHeaders(ctx, h)
        case d: Http2DataFrame =>
          try onData(ctx, d) finally d.release()
        case f: Http2ResetFrame =>
          streams.remove(f.stream()); ()
        case other =>
          io.netty.util.ReferenceCountUtil.release(other)
      }

    private def onHeaders(ctx: ChannelHandlerContext, h: Http2HeadersFrame): Unit = {
      val existing = streams.get(h.stream())
      // client stream ids are odd and strictly increasing: an id at or
      // below the watermark with no map entry is a stream we ALREADY
      // answered-and-removed (415/finishEarly), not a new request
      val sid = h.stream().id()
      val isNewStream = sid > maxSeenStreamId
      if (isNewStream) maxSeenStreamId = sid
      // trailers (no :method pseudo-header) for a stream we no longer
      // track — e.g. in-flight after finishEarly removed the state: drain,
      // exactly like onData's state==null branch. Treating them as a new
      // request would fabricate a StreamState from trailer headers, write
      // a spurious response on a reset stream, and leak the map entry.
      // A method-less FIRST HEADERS on a genuinely NEW stream is a
      // malformed request whether or not it carries END_STREAM (real
      // trailers only exist on a stream the server is already tracking):
      // silently dropping it would hang the client until its own timeout,
      // so answer 400 loudly (one frame, no state allocated). Without
      // END_STREAM the client side is still open — follow with RST so no
      // body frames trickle in; with END_STREAM the remote side is already
      // half-closed and the 400+END_STREAM alone closes the stream cleanly.
      // The isNewStream guard keeps the answer off streams the server
      // already closed with END_STREAM, where a second HEADERS write would
      // fail netty's half-closed(local) stream state — late frames on an
      // answered stream drain silently, same as onData.
      if (existing == null && h.headers().method() == null) {
        if (isNewStream) {
          val out = new DefaultHttp2Headers().status("400")
          ctx.write(new DefaultHttp2HeadersFrame(out, true).stream(h.stream()))
          if (!h.isEndStream)
            ctx.write(new DefaultHttp2ResetFrame(Http2Error.PROTOCOL_ERROR)
              .stream(h.stream()))
          ctx.flush()
        }
        return
      }
      if (existing != null) {
        // a SECOND HeaderS frame on an open stream: with END_STREAM it is
        // the client's trailers — the request body is complete, process it
        // (unconditionally replacing the state here would reset `done` and
        // discard the buffered body, answering an already-answered stream);
        // without END_STREAM it is a protocol violation — fail the stream,
        // never rewind it
        if (existing.done) ()
        else if (h.isEndStream) complete(ctx, h.stream(), existing)
        else finishEarly(ctx, h.stream(), existing, StatusInternal,
          "unexpected HEADERS on open stream")
        return
      }
      val hs = h.headers()
      val state = new StreamState(hs)
      streams.put(h.stream(), state)
      val path = Option(hs.path()).map(_.toString).getOrElse("")
      val method = Option(hs.method()).map(_.toString).getOrElse("")
      val contentType = Option(hs.get("content-type")).map(_.toString).getOrElse("")
      if (!contentType.startsWith("application/grpc")) {
        // gRPC-spec: a non-gRPC content type gets a plain HTTP 415, no
        // grpc-status — the client isn't speaking the protocol
        val out = new DefaultHttp2Headers().status("415")
        ctx.writeAndFlush(new DefaultHttp2HeadersFrame(out, true).stream(h.stream()))
        // same immediate-removal hygiene as finishEarly: a rejected stream
        // must not pin its map entry until RESET/connection close; onData's
        // state==null branch drains + window-credits anything in flight
        state.done = true
        streams.remove(h.stream())
      } else if (method != "POST" || path != ExportPath) {
        finishEarly(ctx, h.stream(), state, StatusUnimplemented,
          s"unknown method $path")
      } else {
        val enc = Option(hs.get("grpc-encoding")).map(_.toString).getOrElse("identity")
        if (enc == "gzip") {
          // OTLP exporters commonly ship compression=gzip; per-message
          // gunzip happens at frame parse, cap enforced post-inflation
          state.gzip = true
        }
        if (enc != "identity" && enc != "gzip") {
          // announced compression this server doesn't implement —
          // UNIMPLEMENTED plus the accept-encoding hint, per the gRPC spec
          finishEarly(ctx, h.stream(), state, StatusUnimplemented,
            s"grpc-encoding $enc not supported",
            extra = Seq("grpc-accept-encoding" -> "identity,gzip"))
        } else if (h.isEndStream) {
          finishEarly(ctx, h.stream(), state, StatusInvalidArgument,
            "empty request body")
        }
      }
    }

    private def onData(ctx: ChannelHandlerContext, d: Http2DataFrame): Unit = {
      val stream = d.stream()
      val state = streams.get(stream)
      // inbound flow control is the application's job at the frame level:
      // replenish the stream and connection windows for every DATA frame,
      // including ones dropped after an early error — otherwise a large
      // in-flight body deadlocks against a closed 64 KiB window
      val bytes = d.initialFlowControlledBytes()
      if (bytes > 0)
        ctx.writeAndFlush(new DefaultHttp2WindowUpdateFrame(bytes).stream(stream))
      if (state == null || state.done) return
      val content = d.content()
      val chunk = new Array[Byte](content.readableBytes())
      content.readBytes(chunk)
      state.body.write(chunk)
      if (state.body.size() > maxMessageBytes + GrpcFrameHeader) {
        finishEarly(ctx, stream, state, StatusResourceExhausted,
          s"message exceeds $maxMessageBytes bytes")
      } else if (d.isEndStream) complete(ctx, stream, state)
    }

    /** End of the request body (END_STREAM on DATA, or client trailers):
      * hand the accumulated message to the worker pool and respond. */
    private def complete(ctx: ChannelHandlerContext, stream: Http2FrameStream,
        state: StreamState): Unit = {
      state.done = true
      streams.remove(stream)
      val body = state.body.toByteArray
      val gzip = state.gzip
      val eventLoop = ctx.channel().eventLoop()
      pool.execute(() => {
        val (status, message) = process(body, gzip)
        eventLoop.execute(() => respond(ctx, stream, status, message))
      })
    }

    /** Trailers-only response for streams failed before their body finished;
      * the reset tells the client to stop sending what we'll never read.
      * The state leaves the map immediately — a failed stream must not pin
      * its (up to cap-sized) buffered body until connection close; onData's
      * state==null branch keeps draining and window-crediting whatever the
      * client still has in flight. */
    private def finishEarly(ctx: ChannelHandlerContext, stream: Http2FrameStream,
        state: StreamState, status: Int, message: String,
        extra: Seq[(String, String)] = Nil): Unit = {
      state.done = true
      streams.remove(stream)
      state.body.reset()
      val out = new DefaultHttp2Headers().status("200")
      out.set("content-type", "application/grpc")
      out.set("grpc-status", status.toString)
      out.set("grpc-message", percentEncode(message))
      extra.foreach { case (k, v) => out.set(k, v) }
      ctx.write(new DefaultHttp2HeadersFrame(out, true).stream(stream))
      ctx.writeAndFlush(new DefaultHttp2ResetFrame(Http2Error.CANCEL).stream(stream))
      ()
    }

    private def respond(ctx: ChannelHandlerContext, stream: Http2FrameStream,
        status: Int, message: String): Unit = {
      if (!ctx.channel().isActive) return
      val headers = new DefaultHttp2Headers().status("200")
      headers.set("content-type", "application/grpc")
      ctx.write(new DefaultHttp2HeadersFrame(headers).stream(stream))
      if (status == 0) {
        val payload = grpcFrame(OtlpProto.emptyResponse)
        ctx.write(new DefaultHttp2DataFrame(
          Unpooled.wrappedBuffer(payload)).stream(stream))
      }
      val trailers = new DefaultHttp2Headers()
      trailers.set("grpc-status", status.toString)
      if (message.nonEmpty) trailers.set("grpc-message", percentEncode(message))
      ctx.writeAndFlush(new DefaultHttp2HeadersFrame(trailers, true).stream(stream))
      ()
    }
  }

  /** The unary Export call body → (grpc-status, message). Runs off the event
    * loop; every Spark interaction lives here. */
  private def process(body: Array[Byte], gzip: Boolean): (Int, String) = {
    val frames = parseGrpcFrames(body, gzip) match {
      case Right(f) => f
      case Left(err) => return err
    }
    val rows =
      try OtlpProto.decodeExportRequest(frames.head)
      catch {
        // the reference maps a convert failure to InvalidArgument
        // (otlp.go:80-83)
        case e: Exception =>
          return (StatusInvalidArgument, s"malformed export: ${e.getClass.getSimpleName}")
      }
    // DataPointCount() == 0 → ack without processing (otlp.go:73-75)
    if (rows.iterator.map(_.datapoints.size).sum == 0) return (0, "")
    try {
      land(rows)
      (0, "")
    } catch {
      case e: Exception =>
        (StatusInternal, s"failed to process metrics: ${e.getClass.getSimpleName}")
    }
  }

  /** Land the batch as one parquet file in the watched source dir, by the
    * same protocol as `/ingest` ([[Landing.land]]). */
  private def land(rows: Seq[OtlpProto.ResourceRow]): Unit =
    Landing.land(sourceDir, "grpc", uploads.incrementAndGet(),
      Right(OtlpProto.toDataFrame(spark, rows)))

  /** gRPC message framing: 1-byte compressed flag + 4-byte big-endian length
    * + payload, repeated. A unary call carries exactly one message; with a
    * negotiated gzip encoding a flag-1 payload inflates here, cap enforced
    * on the DECOMPRESSED size (a zip bomb must not ride a small frame past
    * the message cap). */
  private def parseGrpcFrames(body: Array[Byte],
      gzip: Boolean): Either[(Int, String), Seq[Array[Byte]]] = {
    val out = Seq.newBuilder[Array[Byte]]
    var pos = 0
    var count = 0
    while (pos < body.length) {
      if (body.length - pos < GrpcFrameHeader)
        return Left((StatusInvalidArgument, "truncated grpc frame header"))
      val flag = body(pos) & 0xff
      val len = ((body(pos + 1) & 0xff) << 24) | ((body(pos + 2) & 0xff) << 16) |
        ((body(pos + 3) & 0xff) << 8) | (body(pos + 4) & 0xff)
      if (flag == 1 && !gzip)
        // compressed flag without a negotiated compressor — grpc-go fails
        // this with INTERNAL ("compressed flag set with identity encoding")
        return Left((StatusInternal, "compressed flag set with identity encoding"))
      if (flag != 0 && flag != 1)
        return Left((StatusInvalidArgument, s"bad grpc frame flag $flag"))
      if (len < 0 || len > body.length - pos - GrpcFrameHeader)
        return Left((StatusInvalidArgument, "truncated grpc frame"))
      val payload = java.util.Arrays.copyOfRange(body, pos + GrpcFrameHeader,
        pos + GrpcFrameHeader + len)
      if (flag == 1) gunzipBounded(payload) match {
        case Right(m) => out += m
        case Left(err) => return Left(err)
      }
      else out += payload
      pos += GrpcFrameHeader + len
      count += 1
    }
    if (count != 1)
      Left((StatusInvalidArgument, s"unary call carried $count messages"))
    else Right(out.result())
  }

  private def gunzipBounded(b: Array[Byte]): Either[(Int, String), Array[Byte]] =
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b))
      val out = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](64 * 1024)
      var n = in.read(chunk)
      while (n >= 0) {
        out.write(chunk, 0, n)
        if (out.size > maxMessageBytes)
          return Left((StatusResourceExhausted,
            s"decompressed message exceeds $maxMessageBytes bytes"))
        n = in.read(chunk)
      }
      Right(out.toByteArray)
    } catch {
      case e: java.io.IOException =>
        Left((StatusInternal, s"gzip decode failed: ${e.getClass.getSimpleName}"))
    }
}

object GrpcOtlpReceiver {
  /** grpc.MaxRecvMsgSize in the reference (otlp.go:49). */
  val DefaultMaxMessageBytes: Int = 100 * 1024 * 1024

  val ExportPath = "/opentelemetry.proto.collector.metrics.v1.MetricsService/Export"

  val GrpcFrameHeader = 5

  // the gRPC status codes the reference's receiver can produce, plus the
  // transport-level ones grpc-go itself emits for the same conditions
  val StatusInvalidArgument = 3
  val StatusResourceExhausted = 8
  val StatusUnimplemented = 12
  val StatusInternal = 13

  /** Frame a protobuf message for the wire (uncompressed). */
  def grpcFrame(msg: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](GrpcFrameHeader + msg.length)
    out(0) = 0
    out(1) = ((msg.length >>> 24) & 0xff).toByte
    out(2) = ((msg.length >>> 16) & 0xff).toByte
    out(3) = ((msg.length >>> 8) & 0xff).toByte
    out(4) = (msg.length & 0xff).toByte
    System.arraycopy(msg, 0, out, GrpcFrameHeader, msg.length)
    out
  }

  /** grpc-message is percent-encoded per the spec: the UTF-8 BYTES of the
    * string, two hex digits per escaped byte. Encoding code UNITS would
    * break on any char above 0xFF (f"%02X" does not truncate, so 'ş' would
    * emit the malformed "%15F") — reachable because the unknown-method
    * message echoes the client-controlled `:path`. */
  def percentEncode(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      val v = b & 0xff
      if (v == '%' || v < ' ' || v > '~') sb.append(f"%%$v%02X")
      else sb.append(v.toChar)
    }
    sb.toString
  }
}
