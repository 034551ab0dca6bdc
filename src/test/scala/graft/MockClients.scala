package graft

import graft.sinks.ClientSinks.{KafkaClient, KinesisClient, NsqClient, OutRecord, PubSubClient, RabbitClient, SqsClient, SqsMessage}

import scala.collection.mutable

/** Recording mock wire clients for the K1/K2 client sinks. Local-mode
  * tasks share this JVM, so executor-side writes land in these
  * synchronized buffers. Failure injection is deterministic per record
  * (parsed from the `...-<n>` payload suffix) so partial-failure retry
  * accounting is exact. */
object MockClients {
  private val kCalls = mutable.ArrayBuffer.empty[Seq[OutRecord]]
  private val kStored = mutable.ArrayBuffer.empty[OutRecord]
  private val kFailedOnce = mutable.Set.empty[String]
  private val sCalls = mutable.ArrayBuffer.empty[Seq[SqsMessage]]
  private val sStored = mutable.ArrayBuffer.empty[SqsMessage]

  def reset(): Unit = synchronized {
    kCalls.clear(); kStored.clear(); kFailedOnce.clear(); sCalls.clear(); sStored.clear()
  }
  def kinesisCalls: Seq[Seq[OutRecord]] = synchronized(kCalls.toSeq)
  def kinesisStored: Seq[OutRecord] = synchronized(kStored.toSeq)
  def sqsCalls: Seq[Seq[SqsMessage]] = synchronized(sCalls.toSeq)
  def sqsStored: Seq[SqsMessage] = synchronized(sStored.toSeq)

  private def recordIndex(payload: Array[Byte]): Int = {
    val s = new String(payload, "UTF-8")
    s.substring(s.lastIndexOf('-') + 1).toIntOption.getOrElse(0)
  }

  /** Every record whose numeric suffix is ≡ 0 (mod failOnceEvery) errors
    * on its first send and succeeds on the retry. */
  def kinesis(failOnceEvery: Int): KinesisClient = new KinesisClient {
    def putRecords(stream: String, records: Seq[OutRecord]): Seq[Option[String]] =
      MockClients.synchronized {
        kCalls += records
        records.map { r =>
          val tag = new String(r.payload, "UTF-8")
          if (failOnceEvery > 0 && recordIndex(r.payload) % failOnceEvery == 0 &&
              !kFailedOnce.contains(tag)) {
            kFailedOnce += tag
            Some("ProvisionedThroughputExceededException")
          } else { kStored += r; None }
        }
      }
  }

  def kinesisAlwaysFailing(): KinesisClient = new KinesisClient {
    def putRecords(stream: String, records: Seq[OutRecord]): Seq[Option[String]] =
      MockClients.synchronized { kCalls += records; records.map(_ => Some("ServiceUnavailable")) }
  }

  def sqs(): SqsClient = new SqsClient {
    def sendMessageBatch(queue: String, messages: Seq[SqsMessage]): Seq[Option[String]] =
      MockClients.synchronized { sCalls += messages; sStored ++= messages; messages.map(_ => None) }
  }

  private val pCalls = mutable.ArrayBuffer.empty[Seq[Array[Byte]]]
  private val pStored = mutable.ArrayBuffer.empty[Array[Byte]]
  private val pFailedOnce = mutable.Set.empty[String]
  private val nCalls = mutable.ArrayBuffer.empty[Seq[Array[Byte]]]
  private val rAttempts = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val rStored = mutable.ArrayBuffer.empty[Array[Byte]]
  private val rPublishes = mutable.ArrayBuffer.empty[(String, String)]
  private val rBackoffs = mutable.ArrayBuffer.empty[Long]

  def pubsubCalls: Seq[Seq[Array[Byte]]] = synchronized(pCalls.toSeq)
  def pubsubStored: Seq[Array[Byte]] = synchronized(pStored.toSeq)
  def nsqCalls: Seq[Seq[Array[Byte]]] = synchronized(nCalls.toSeq)
  def rabbitStored: Seq[Array[Byte]] = synchronized(rStored.toSeq)
  def rabbitBackoffs: Seq[Long] = synchronized(rBackoffs.toSeq)
  def recordBackoff(ms: Long): Unit = synchronized(rBackoffs += ms)

  def pubsub(failOnceEvery: Int = 0): PubSubClient = new PubSubClient {
    def publish(topic: String, messages: Seq[Array[Byte]]): Seq[Option[String]] =
      MockClients.synchronized {
        pCalls += messages
        messages.map { m =>
          val tag = new String(m, "UTF-8")
          if (failOnceEvery > 0 && recordIndex(m) % failOnceEvery == 0 &&
              !pFailedOnce.contains(tag)) {
            pFailedOnce += tag; Some("UNAVAILABLE")
          } else { pStored += m; None }
        }
      }
  }

  def nsq(): NsqClient = new NsqClient {
    def produceMulti(topic: String, messages: Seq[Array[Byte]]): Unit =
      MockClients.synchronized { nCalls += messages }
  }

  def nsqFailing(): NsqClient = new NsqClient {
    def produceMulti(topic: String, messages: Seq[Array[Byte]]): Unit =
      throw new RuntimeException("nsq down")
  }

  /** Each event fails its first `failuresPerEvent` publishes, then lands. */
  def rabbit(failuresPerEvent: Int = 0): RabbitClient = new RabbitClient {
    def basicPublish(exchange: String, routingKey: String, body: Array[Byte]): Unit =
      MockClients.synchronized {
        val tag = new String(body, "UTF-8")
        val n = rAttempts(tag)
        rAttempts(tag) = n + 1
        if (n < failuresPerEvent) throw new RuntimeException(s"rabbit transient $n")
        rPublishes += (exchange -> routingKey)
        rStored += body
      }
  }

  /** r11: the (exchange, routingKey) each successful publish carried. */
  def rabbitPublishes: Seq[(String, String)] = synchronized(rPublishes.toSeq)

  private val kfCalls = mutable.ArrayBuffer.empty[(String, Seq[OutRecord])]
  private val kfStored = mutable.ArrayBuffer.empty[OutRecord]
  private val kfFailedOnce = mutable.Set.empty[String]

  def kafkaCalls: Seq[(String, Seq[OutRecord])] = synchronized(kfCalls.toSeq)
  def kafkaStored: Seq[OutRecord] = synchronized(kfStored.toSeq)

  /** r12 K5 mock: per-record outcomes like the kinesis mock — records
    * whose numeric suffix is ≡ 0 (mod failOnceEvery) error once. */
  def kafka(failOnceEvery: Int = 0): graft.sinks.ClientSinks.KafkaClient =
    new graft.sinks.ClientSinks.KafkaClient {
      def send(topic: String, records: Seq[OutRecord]): Seq[Option[String]] =
        MockClients.synchronized {
          kfCalls += (topic -> records)
          records.map { r =>
            val tag = new String(r.payload, "UTF-8")
            if (failOnceEvery > 0 && recordIndex(r.payload) % failOnceEvery == 0 &&
                !kfFailedOnce.contains(tag)) {
              kfFailedOnce += tag
              Some("TimeoutException")
            } else { kfStored += r; None }
          }
        }
    }

  def kafkaAlwaysFailing(): graft.sinks.ClientSinks.KafkaClient =
    new graft.sinks.ClientSinks.KafkaClient {
      def send(topic: String, records: Seq[OutRecord]): Seq[Option[String]] =
        MockClients.synchronized {
          kfCalls += (topic -> records)
          records.map(_ => Some("NotEnoughReplicasException"))
        }
    }

  def resetExtras(): Unit = synchronized {
    pCalls.clear(); pStored.clear(); pFailedOnce.clear(); nCalls.clear()
    rAttempts.clear(); rStored.clear(); rBackoffs.clear(); rPublishes.clear()
    kfCalls.clear(); kfStored.clear(); kfFailedOnce.clear()
  }

  /** Lifecycle probe: every client [[probe]] opens, how often each was
    * closed, and the largest call any of them received, per probe run. A
    * run is fixed when its sink is built, so a straggler task of an earlier
    * run's failed job never counts toward a later run. */
  final case class Probe(run: Int, mode: String)
  private var probeRuns = 0
  private val probeCloses = mutable.Map.empty[Int, mutable.ArrayBuffer[Int]]
  private val probeLargest = mutable.Map.empty[Int, Int]

  /** A new probe run whose clients answer in `mode`. */
  def newProbe(mode: String): Probe = synchronized { probeRuns += 1; Probe(probeRuns, mode) }
  /** One entry per client opened in the run: its close count. */
  def probeCloseCounts(p: Probe): Seq[Int] = synchronized(probeCloses.get(p.run).toSeq.flatten)
  def probeLargestCall(p: Probe): Int = synchronized(probeLargest.getOrElse(p.run, 0))

  /** One client of every kind. `mode` "clean" stores everything, "flag"
    * flags every record (a client without per-record status throws
    * instead), "throw" throws from every call. */
  def probe(p: Probe): KinesisClient with SqsClient with PubSubClient with KafkaClient
      with NsqClient with RabbitClient = {
    val closes = synchronized(probeCloses.getOrElseUpdate(p.run, mutable.ArrayBuffer.empty[Int]))
    val id = synchronized { closes += 0; closes.size - 1 }
    new KinesisClient with SqsClient with PubSubClient with KafkaClient with NsqClient with RabbitClient {
      private def respond(n: Int): Seq[Option[String]] = {
        MockClients.synchronized {
          probeLargest(p.run) = math.max(probeLargest.getOrElse(p.run, 0), n)
        }
        p.mode match {
          case "clean" => Seq.fill(n)(None)
          case "flag" => Seq.fill(n)(Some("Flagged"))
          case _ => throw new RuntimeException("probe client down")
        }
      }
      private def status(n: Int): Unit =
        if (respond(n).exists(_.nonEmpty)) throw new RuntimeException("probe publish failed")
      def putRecords(stream: String, records: Seq[OutRecord]) = respond(records.size)
      def sendMessageBatch(queue: String, messages: Seq[SqsMessage]) = respond(messages.size)
      def publish(topic: String, messages: Seq[Array[Byte]]) = respond(messages.size)
      def send(topic: String, records: Seq[OutRecord]) = respond(records.size)
      def produceMulti(topic: String, messages: Seq[Array[Byte]]): Unit = status(messages.size)
      def basicPublish(exchange: String, routingKey: String, body: Array[Byte]): Unit = status(1)
      override def close(): Unit = MockClients.synchronized(closes(id) += 1)
    }
  }
}
