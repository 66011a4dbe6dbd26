package perfbench

import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable

/** One delivery of a micro-batch: its batch id, its JSON lines, and
  * whether it re-delivers a batch id already sent. */
final case class Delivery(batchId: Long, lines: Array[String],
    replay: Boolean, valid: Seq[Gen.Event])

/** Seeded generator of GitHub-archive-shaped JSON micro-batches.
  *
  * - Event types are skewed over the 15 types the pipeline maps to a
  *   category plus 3 it does not.
  * - Actor and repo ids follow a power law (many events on few ids).
  * - Event time advances 40 minutes per batch by default, so a batch
  *   touches one or two hour partitions.
  * - About 1 % of lines are malformed (truncated JSON or no `id`).
  * - Every 25th delivery re-sends the previous batch id with the same
  *   lines, as a restarted micro-batch does.
  *
  * The same seed yields the same deliveries, byte for byte. */
final class Gen(seed: Long, eventsPerBatch: Int) {
  import Gen._

  private val rng = new SplittableRandom(seed)
  private val base = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond +
    math.floorMod(seed, 200L) * 86400L
  private var nextBatch = 0L
  private var start = base
  private var last: Option[Delivery] = None
  private var delivered = 0L

  /** The next delivery; a fresh batch's events fall in the `span`
    * seconds after the previous batch's. Every `ReplayEvery`-th delivery
    * re-sends the previous batch, so a run's re-delivery count depends
    * only on how many deliveries it makes. */
  def next(span: Long = BatchSpanSeconds): Delivery = {
    delivered += 1
    val d = last match {
      case Some(prev) if delivered % ReplayEvery == 0 =>
        prev.copy(replay = true)
      case _ =>
        val f = fresh(nextBatch, span)
        nextBatch += 1
        start += span
        f
    }
    last = Some(d)
    d
  }

  private def fresh(batch: Long, span: Long): Delivery = {
    val r = rng.split()
    val lines = new Array[String](eventsPerBatch)
    val valid = mutable.ArrayBuffer.empty[Event]
    var i = 0
    while (i < eventsPerBatch) {
      val id = s"$seed-$batch-$i"
      val tpe = pickType(r.nextDouble())
      val actor = 1 + (math.pow(r.nextDouble(), 3.0) * 200000).toInt
      val repo = 1 + (math.pow(r.nextDouble(), 4.0) * 50000).toInt
      val t = start + r.nextLong(span)
      val hasOrg = r.nextInt(10) < 3
      val json = render(id, tpe, actor, repo, t, hasOrg, r)
      val m = r.nextDouble()
      lines(i) =
        if (m < MalformedRate / 2) json.substring(0, json.length / 2)
        else if (m < MalformedRate) json.replaceFirst("\"id\":\"[^\"]*\",", "")
        else { valid += Event(id, tpe, actor, repo, t, hasOrg); json }
      i += 1
    }
    Delivery(batch, lines, replay = false, valid.toSeq)
  }

  private def render(id: String, tpe: String, actor: Int, repo: Int,
      t: Long, hasOrg: Boolean, r: SplittableRandom): String = {
    val org = if (hasOrg) {
      val o = 1 + repo % 500
      s""","org":{"id":$o,"login":"org$o","gravatar_id":"",""" +
        s""""url":"https://api.github.com/orgs/org$o",""" +
        s""""avatar_url":"https://avatars.githubusercontent.com/u/$o?"}"""
    } else ""
    val payload = tpe match {
      case "PushEvent" =>
        s"""{"push_id":"${r.nextInt(1 << 30)}","size":"${1 + r.nextInt(5)}",""" +
          s""""ref":"refs/heads/main","pusher_type":"user"}"""
      case "CreateEvent" | "DeleteEvent" =>
        val tag = r.nextBoolean()
        s"""{"ref":"${if (tag) "v" + r.nextInt(20) else "feature-" + r.nextInt(99)}",""" +
          s""""ref_type":"${if (tag) "tag" else "branch"}",""" +
          s""""master_branch":"main","description":"repo $repo",""" +
          s""""pusher_type":"user"}"""
      case "WatchEvent" => """{"action":"started"}"""
      case _ =>
        s"""{"action":"${Actions(r.nextInt(Actions.length))}",""" +
          s""""number":"${1 + r.nextInt(500)}"}"""
    }
    s"""{"id":"$id","type":"$tpe","actor":{"id":$actor,""" +
      s""""login":"user$actor","display_login":"user$actor",""" +
      s""""gravatar_id":"","url":"https://api.github.com/users/user$actor",""" +
      s""""avatar_url":"https://avatars.githubusercontent.com/u/$actor?"},""" +
      s""""repo":{"id":$repo,"name":"org${1 + repo % 500}/repo$repo",""" +
      s""""url":"https://api.github.com/repos/org${1 + repo % 500}/repo$repo"}""" +
      org + s""","payload":$payload,"public":true,""" +
      s""""created_at":"${Instant.ofEpochSecond(t)}"}"""
  }
}

object Gen {
  final case class Event(id: String, tpe: String, actor: Int, repo: Int,
      epochSecond: Long, hasOrg: Boolean) {
    /** Push, create and delete payloads carry no `action`. */
    def hasAction: Boolean = !NoAction(tpe)
  }

  private val NoAction = Set("PushEvent", "CreateEvent", "DeleteEvent")

  val BatchSpanSeconds = 2400L
  val MalformedRate = 0.01
  val ReplayEvery = 25

  /** Relative weights: the 15 mapped types, then 3 unmapped ones. */
  val TypeWeights: Seq[(String, Double)] = Seq(
    "PushEvent" -> 40.0, "CreateEvent" -> 12.0, "WatchEvent" -> 10.0,
    "PullRequestEvent" -> 8.0, "IssueCommentEvent" -> 7.0,
    "IssuesEvent" -> 5.0, "DeleteEvent" -> 4.0, "ForkEvent" -> 3.0,
    "PullRequestReviewEvent" -> 2.5,
    "PullRequestReviewCommentEvent" -> 2.0, "ReleaseEvent" -> 1.0,
    "CommitCommentEvent" -> 0.7, "MemberEvent" -> 0.4,
    "PublicEvent" -> 0.3, "TeamEvent" -> 0.1,
    "GollumEvent" -> 1.5, "DiscussionEvent" -> 1.0,
    "SponsorshipEvent" -> 0.5)

  private val cumulative: Array[(Double, String)] = {
    val total = TypeWeights.map(_._2).sum
    TypeWeights.scanLeft((0.0, "")) { case ((acc, _), (t, w)) =>
      (acc + w / total, t)
    }.tail.toArray
  }

  private def pickType(u: Double): String =
    cumulative.find(_._1 > u).getOrElse(cumulative.last)._2

  private val Actions =
    Array("opened", "closed", "reopened", "created", "submitted")
}

/** Running answers the table must give, from the deliveries that were
  * committed. */
final class Tally {
  var events = 0L
  val byType = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val byHour = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  val byRepo = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  val actors = mutable.Set.empty[Int]
  var withoutOrg = 0L
  var withoutAction = 0L
  var clean = 0L
  var maxEpochSecond = Long.MinValue
  var lastBatch = -1L
  var replaysSkipped = 0

  def add(d: Delivery): Unit = {
    d.valid.foreach { e =>
      events += 1
      byType(e.tpe) += 1
      byHour(e.epochSecond / 3600 * 3600) += 1
      byRepo(e.repo) += 1
      actors += e.actor
      if (!e.hasOrg) withoutOrg += 1
      if (!e.hasAction) withoutAction += 1
      if (e.hasOrg && e.hasAction) clean += 1
      maxEpochSecond = math.max(maxEpochSecond, e.epochSecond)
    }
    lastBatch = d.batchId
  }
}
