package graft.tools

import scala.collection.concurrent.TrieMap

/** Admin toolbox (SURVEY.md §2.10, D1–D6) — the declarative topic-management
  * surface of the reference (reference: fluvii/kafka_tools/fluvii_toolbox.py:
  * 60-195), behind a transport-agnostic trait. The in-memory implementation
  * drives tests and the CLI offline; a Kafka-backed implementation plugs the
  * kafka-clients AdminClient into the same trait on a real cluster (that jar
  * does not ship in this environment).
  */
final case class TopicSpec(
    partitions: Int,
    replicationFactor: Int = 1,
    configs: Map[String, String] = Map.empty)

/** A broker refusing to update restricted topic configs (reference:
  * fluvii_toolbox.py:139-155 parses the librdkafka POLICY_VIOLATION error
  * text into "cannot be updated" fields vs anything else). */
final case class PolicyViolation(uneditable: Seq[String], unhandled: Seq[String])
    extends RuntimeException(
      s"POLICY_VIOLATION: uneditable=${uneditable.mkString(",")} " +
        s"unhandled=${unhandled.mkString(",")}")

trait AdminOps {
  /** D1 — list topics, internal ones filtered (reference: :60-70). */
  def listTopics(includeInternal: Boolean = false): Map[String, TopicSpec]
  /** D2 — create, ignoring existing (reference: :72-94). */
  def createTopics(topics: Map[String, TopicSpec]): Seq[String]
  /** D4 — delete, ignoring missing (reference: :160-174). */
  def deleteTopics(names: Seq[String]): Seq[String]

  /** Primitive behind the diff-aware alter: atomically apply the full
    * desired config map to one EXISTING topic; throws [[PolicyViolation]]
    * when the broker refuses restricted keys. */
  protected def applyTopicConfig(name: String, configs: Map[String, String]): Unit

  /** D3 — diff-aware alter (reference: :96-158). Semantics mirrored 1:1:
    * partitions/replication cannot be altered (always ignorable); missing
    * topics are skipped; with `retainConfigs` the update is merged over the
    * topic's current configs so unnamed settings keep their values (a bare
    * alter_configs would reset them to broker defaults); only NOVEL values
    * (differing from current) trigger an alter at all; and a
    * [[PolicyViolation]] naming uneditable configs retries with those
    * fields added to the ignore set — any other policy error propagates. */
  def alterTopicConfigs(
      updates: Map[String, Map[String, String]],
      retainConfigs: Boolean = true,
      ignorableFields: Set[String] = Set.empty): Seq[String] = {
    val baseIgnore = ignorableFields ++
      Set("partitions", "replication_factor", "replication.factor")
    val current = listTopics(includeInternal = true)
    val pending = updates.toList.sortBy(_._1)
      .collect { case (t, cfgs) if current.contains(t) => (t, cfgs) }
    alterLoop(pending, current, retainConfigs, baseIgnore, Nil)
  }

  @scala.annotation.tailrec
  private def alterLoop(
      pending: List[(String, Map[String, String])],
      current: Map[String, TopicSpec],
      retain: Boolean,
      ignore: Set[String],
      altered: List[String]): Seq[String] = {
    // keep only novel, non-ignorable values (reference :128-131)
    val novel = pending.map { case (t, cfgs) =>
      (t, cfgs.filterNot { case (k, v) =>
        ignore(k) || current(t).configs.get(k).contains(v) })
    }.filter(_._2.nonEmpty)
    novel match {
      case Nil => altered
      case (t, cfgs) :: rest =>
        val full = (if (retain) current(t).configs ++ cfgs else cfgs) -- ignore
        val refused =
          try { applyTopicConfig(t, full); None }
          catch {
            case pv: PolicyViolation =>
              if (pv.unhandled.nonEmpty && pv.uneditable.isEmpty) throw pv
              val fresh = pv.uneditable.toSet -- ignore
              if (fresh.isEmpty) throw pv // no progress possible
              Some(fresh)
          }
        refused match {
          case None         => alterLoop(rest, current, retain, ignore, altered :+ t)
          case Some(fields) => alterLoop((t, cfgs) :: rest, current, retain, ignore ++ fields, altered)
        }
    }
  }

  /** TopicSpec-shaped alter convenience: partitions/RF in the spec are
    * stripped as ignorable, exactly like the reference contract. */
  def alterTopics(topics: Map[String, TopicSpec]): Seq[String] =
    alterTopicConfigs(topics.map { case (n, s) => n -> s.configs })

  /** D5 — declarative sync: create missing, delete extra, diff-aware alter
    * the rest (reference: :176-195). */
  def syncTopics(desired: Map[String, TopicSpec],
      deleteExtra: Boolean = true): SyncResult = {
    val current = listTopics()
    val created = createTopics(desired.view.filterKeys(!current.contains(_)).toMap)
    val toAlter = desired.collect {
      case (n, spec) if current.contains(n) => n -> spec.configs
    }
    val altered = alterTopicConfigs(toAlter)
    val deleted =
      if (deleteExtra) deleteTopics((current.keySet -- desired.keySet).toSeq)
      else Nil
    SyncResult(created, altered, deleted)
  }
}

final case class SyncResult(created: Seq[String], altered: Seq[String], deleted: Seq[String])

/** In-memory AdminOps; `restrictedConfigs` models broker policy — altering
  * one throws the POLICY_VIOLATION the reference's retry contract handles
  * (a restricted key absent from the update keeps its current value, as on
  * a real broker). */
final class InMemoryAdmin(restrictedConfigs: Set[String] = Set.empty) extends AdminOps {
  private val topics = TrieMap.empty[String, TopicSpec]
  private val InternalPrefix = "__" // e.g. __consumer_offsets

  override def listTopics(includeInternal: Boolean): Map[String, TopicSpec] =
    topics.toMap.filter { case (n, _) => includeInternal || !n.startsWith(InternalPrefix) }

  override def createTopics(specs: Map[String, TopicSpec]): Seq[String] = {
    val created = specs.filter { case (n, _) => !topics.contains(n) }
    created.foreach { case (n, s) => topics(n) = s }
    created.keys.toSeq.sorted
  }

  override protected def applyTopicConfig(name: String, configs: Map[String, String]): Unit = {
    val bad = configs.keySet.intersect(restrictedConfigs).toSeq.sorted
    if (bad.nonEmpty) throw PolicyViolation(bad, Nil)
    val keptRestricted = topics(name).configs.view.filterKeys(restrictedConfigs).toMap
    topics(name) = topics(name).copy(configs = keptRestricted ++ configs)
  }

  override def deleteTopics(names: Seq[String]): Seq[String] = {
    val deleted = names.filter(topics.contains)
    deleted.foreach(topics.remove)
    deleted.sorted
  }
}

/** D6 — CLI over the toolbox (reference: fluvii/cli/commands/topics.py:
  * 16-111): `graft topics list|create|alter|delete|sync|consume|produce`.
  * consume/produce are the reference's dump-to-file / produce-from-file
  * pair: in this offline environment the broker hop is a Message parquet
  * (what the Kafka source yields via [[graft.sources.Kafka.toEnvelope]] on
  * a real cluster); the JSON dump format round-trips through
  * [[graft.sources.Kafka.dumpJson]]/[[graft.sources.Kafka.readJsonDump]]. */
object ToolboxCli {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  /** {"topic": {"k": v, ...}, ...} with numeric/bool values stringified. */
  private[tools] def parseConfigs(json: String): Map[String, Map[String, String]] =
    JsonMethods.parse(json) match {
      case JObject(fields) => fields.map {
        case (t, JObject(cfgs)) => t -> cfgs.map {
          case (k, JString(s)) => k -> s
          case (k, other)      => k -> JsonMethods.compact(JsonMethods.render(other))
        }.toMap
        case (t, other) =>
          throw new IllegalArgumentException(s"topic $t: expected object, got $other")
      }.toMap
      case other => throw new IllegalArgumentException(s"expected object, got $other")
    }

  /** The reference CLI's topic-config shape
    * ({'partitions': 3, 'replication.factor': 3, 'segment.ms': 10000}). */
  private[tools] def parseSpecs(json: String): Map[String, TopicSpec] =
    parseConfigs(json).map { case (t, cfgs) =>
      t -> TopicSpec(
        partitions = cfgs.getOrElse("partitions", "1").toInt,
        replicationFactor = cfgs.getOrElse("replication.factor", "1").toInt,
        configs = cfgs -- Seq("partitions", "replication.factor"))
    }

  def run(args: Array[String], admin: AdminOps,
      spark: Option[org.apache.spark.sql.SparkSession] = None): String = args.toList match {
    case "topics" :: "list" :: rest =>
      val withConfigs = rest.contains("--include-configs")
      admin.listTopics().toSeq.sortBy(_._1)
        .map { case (n, s) =>
          val base = s"$n partitions=${s.partitions}"
          if (withConfigs && s.configs.nonEmpty)
            base + s.configs.toSeq.sorted.map { case (k, v) => s" $k=$v" }.mkString
          else base
        }.mkString("\n")
    case "topics" :: "create" :: name :: parts :: _ =>
      admin.createTopics(Map(name -> TopicSpec(parts.toInt))).mkString(",")
    case "topics" :: "alter" :: json :: _ =>
      admin.alterTopicConfigs(parseConfigs(json)).mkString(",")
    case "topics" :: "delete" :: name :: _ =>
      admin.deleteTopics(Seq(name)).mkString(",")
    case "topics" :: "sync" :: json :: _ =>
      val r = admin.syncTopics(parseSpecs(json))
      s"created=${r.created.mkString(",")};altered=${r.altered.mkString(",")};" +
        s"deleted=${r.deleted.mkString(",")}"
    case "topics" :: "consume" :: in :: out :: _ =>
      spark match {
        case None => "error: consume needs a Spark session"
        case Some(s) =>
          import s.implicits._
          val msgs = s.read.parquet(in).as[graft.core.Message]
          graft.sources.Kafka.dumpJson(msgs, out)
          s"consumed $in -> $out"
      }
    case "topics" :: "produce" :: in :: out :: rest =>
      spark match {
        case None => "error: produce needs a Spark session"
        case Some(s) =>
          import s.implicits._
          val raw = graft.sources.Kafka.readJsonDump(s, in)
          val topicOverride = rest.sliding(2).collectFirst {
            case Seq("--topic-override", t) => t }
          val useGiven = rest.contains("--use-given-partitions")
          // reference: given partitions are honored only with the flag;
          // otherwise the producer's mmh3 partitioner assigns from the key
          // and the topic's partition count (producer.py:89-90)
          val topicCounts = admin.listTopics(includeInternal = true)
            .map { case (n, sp) => n -> sp.partitions }
          val msgs = raw.map { m0 =>
            val m = topicOverride.fold(m0)(t => m0.copy(topic = t))
            if (useGiven) m
            else m.copy(partition = graft.functions.Murmur3.partition(
              m.key, topicCounts.getOrElse(m.topic, 1)))
          }
          graft.sources.Kafka.toSinkColumnsRaw(msgs)
            .write.mode("overwrite").parquet(out)
          s"produced $in -> $out"
      }
    case other =>
      "usage: graft topics list [--include-configs]|create <name> <partitions>|" +
        "alter <json>|delete <name>|sync <json>|consume <in> <out>|" +
        s"produce <in> <out> [--topic-override <t>] [--use-given-partitions] (got: ${other.mkString(" ")})"
  }

  def main(args: Array[String]): Unit = {
    val needsSpark = args.toList match {
      case "topics" :: ("consume" | "produce") :: _ => true
      case _                                        => false
    }
    val spark = if (needsSpark) Some(graft.core.GraftSession.local()) else None
    println(run(args, new InMemoryAdmin, spark))
    spark.foreach(_.stop())
  }
}
