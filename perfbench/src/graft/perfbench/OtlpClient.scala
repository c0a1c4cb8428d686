package graft.perfbench

import java.util.concurrent.{CompletableFuture, Semaphore, TimeUnit}

import io.netty.bootstrap.Bootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioSocketChannel
import io.netty.handler.codec.http2._
import io.netty.util.concurrent.DefaultThreadFactory

import graft.transport.GrpcOtlpReceiver

/** The load generator's gRPC client: one cleartext HTTP/2 (h2c) connection
  * to the receiver, unary `MetricsService/Export` calls, at most
  * `maxInFlight` calls open at once (`export` blocks for a free slot).
  * Its event loop runs on daemon threads and `close` shuts it down and
  * waits, so the client never keeps the JVM alive after the run. */
final class OtlpClient(port: Int, maxInFlight: Int) extends AutoCloseable {

  private val group = new MultiThreadIoEventLoopGroup(1,
    new DefaultThreadFactory("perfbench-otlp-client", true),
    NioIoHandler.newFactory())
  private val slots = new Semaphore(maxInFlight)

  private val channel: Channel = new Bootstrap()
    .group(group)
    .channel(classOf[NioSocketChannel])
    .handler(new ChannelInitializer[SocketChannel] {
      override def initChannel(ch: SocketChannel): Unit = {
        ch.pipeline().addLast(
          Http2FrameCodecBuilder.forClient().build(),
          new Http2MultiplexHandler(new ChannelInboundHandlerAdapter()))
      }
    })
    .connect("127.0.0.1", port).sync().channel()

  /** Send one framed ExportMetricsServiceRequest. Blocks until an
    * in-flight slot is free; the future completes with the grpc-status
    * (-1 when the stream ended without one). */
  def send(message: Array[Byte]): CompletableFuture[Int] = {
    slots.acquire()
    val result = new CompletableFuture[Int]()
    result.whenComplete((_, _) => slots.release())
    val body = GrpcOtlpReceiver.grpcFrame(message)
    val boot = new Http2StreamChannelBootstrap(channel)
    boot.handler(new ChannelInboundHandlerAdapter {
      @volatile private var status = -1
      override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit =
        msg match {
          case h: Http2HeadersFrame =>
            Option(h.headers().get("grpc-status"))
              .foreach(s => status = s.toString.toInt)
            if (h.isEndStream) result.complete(status)
          case d: Http2DataFrame =>
            try {
              val n = d.initialFlowControlledBytes()
              if (n > 0) ctx.writeAndFlush(
                new DefaultHttp2WindowUpdateFrame(n).stream(d.stream()))
              if (d.isEndStream) result.complete(status)
            } finally d.release()
          case _: Http2ResetFrame => result.complete(status)
          case other => io.netty.util.ReferenceCountUtil.release(other)
        }
      override def exceptionCaught(ctx: ChannelHandlerContext, t: Throwable): Unit = {
        result.completeExceptionally(t); ()
      }
    })
    boot.open().addListener { (f: io.netty.util.concurrent.Future[Http2StreamChannel]) =>
      if (!f.isSuccess) result.completeExceptionally(f.cause())
      else {
        val stream = f.getNow
        val hs = new DefaultHttp2Headers()
          .method("POST").scheme("http").path(GrpcOtlpReceiver.ExportPath)
          .authority("127.0.0.1")
        hs.set("content-type", "application/grpc")
        hs.set("te", "trailers")
        stream.write(new DefaultHttp2HeadersFrame(hs))
        var pos = 0
        while (pos < body.length) {
          val n = math.min(16384, body.length - pos)
          stream.write(new DefaultHttp2DataFrame(
            Unpooled.wrappedBuffer(body, pos, n), pos + n == body.length))
          pos += n
        }
        stream.flush()
      }
      ()
    }
    result
  }

  override def close(): Unit = {
    channel.close().sync()
    group.shutdownGracefully(0, 500, TimeUnit.MILLISECONDS).sync()
    ()
  }
}
