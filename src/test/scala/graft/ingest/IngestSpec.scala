package graft.ingest

import graft.text.SparkTestSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-shaped ingest tests (SURVEY §5.2 item 5): the reference's input
  * shapes per FIXTURES.md §A, including the positional `fields` access, the
  * optional-tags default, the no-comment-file left join, and the seeded
  * first comment. */
class IngestSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private lazy val tickets = Tickets.reshapeTickets(Tickets.scanTickets(spark))

  test("P1 reshape: positional fields, enum upcase, timestamps (wrangler.py:417-430)") {
    val r = tickets.filter(col("ticket_id") === 1001).collect()(0)
    assert(r.getAs[String]("ticket_type") == "incident") // fields[0].value
    assert(r.getAs[String]("outcome") == "resolved-workaround") // fields[2].value
    assert(r.getAs[String]("status") == "OPEN")
    assert(r.getAs[Int]("status_ord") == 1)
    assert(r.getAs[java.sql.Timestamp]("created_at").toInstant.toString
      == "2024-03-01T08:00:00Z")
  }

  test("P1: missing tags key defaults to [] (wrangler.py:426)") {
    // generator drops `tags` when i % 7 == 0 → tickets 1001, 1008, ...
    val noTags = tickets.filter(size(col("tags")) === 0)
      .select(col("ticket_id")).collect().map(_.getLong(0)).toSet
    assert(noTags == (0 until 60 by 7).map(1001L + _).toSet)
  }

  test("P1: nullable outcome survives (every 4th fixture has null)") {
    assert(tickets.filter(col("outcome").isNull).count() == 15)
  }

  test("S2/P2: comment files matched by id prefix; both array keys read") {
    val c = Tickets.scanComments(spark)
    assert(c.filter(col("ticket_id").isNull).count() == 0)
    // ticket 1002 (i=1: i%6==1, has a file) carries internal_notes id 90001
    assert(c.filter(col("comment_id") === 90001).count() == 1)
  }

  test("J1+P3: every ticket keeps >=1 comment (seed); no-file tickets have exactly 1") {
    val bound = Tickets.bindComments(spark, tickets)
    assert(bound.count() == 60)
    assert(bound.filter(size(col("comments")) < 1).count() == 0)
    // i % 5 == 2 → no comments file → only the seeded description comment
    val seedOnly = bound.filter(col("ticket_id") === 1003).collect()(0)
    assert(seedOnly.getAs[scala.collection.Seq[_]]("comments").size == 1)
  }

  test("J1 nested: comments sorted by (created_at, id) regardless of shuffle") {
    val rows = Tickets.bindComments(spark, tickets.repartition(7))
      .select(col("ticket_id"), col("comments.created_at").as("ts"))
      .collect()
    rows.foreach { r =>
      val ts: scala.collection.Seq[Long] = r.getAs[scala.collection.Seq[java.sql.Timestamp]]("ts").map(_.getTime)
      assert(ts == ts.sorted, s"ticket ${r.getLong(0)} comments out of order")
    }
  }

  test("J1 row-count invariant: nested sizes sum to flat count (SURVEY §5.2)") {
    val flat = Tickets.allComments(spark, tickets).count()
    val nested = Tickets.bindComments(spark, tickets)
      .agg(sum(size(col("comments")))).collect()(0).getLong(0)
    assert(flat == nested)
  }

  test("J1/T6 bindComments and corpus read the comments directory they are given") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-comments")
    try {
      // a copy of the fixture comments without ticket 1001's file
      new java.io.File(s"${Tickets.FixturesDir}/comments").listFiles()
        .filter(_.getName != "1001_comments.json")
        .foreach(f => java.nio.file.Files.copy(f.toPath, tmp.resolve(f.getName)))
      def sizes(df: org.apache.spark.sql.DataFrame) =
        df.select(col("ticket_id"), size(col("comments"))).collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val fixture = sizes(Tickets.bindComments(spark, tickets))
      val copied = sizes(Tickets.bindComments(spark, tickets, tmp.toString))
      assert(fixture(1001L) > 1 && copied(1001L) == 1, "only the seeded comment is left")
      assert(copied - 1001L == fixture - 1001L)
      def docs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val fixtureDocs = docs(Tickets.corpus(spark, tickets))
      val copiedDocs = docs(Tickets.corpus(spark, tickets, tmp.toString))
      assert(copiedDocs(1001L) != fixtureDocs(1001L))
      assert(copiedDocs - 1001L == fixtureDocs - 1001L)
    } finally {
      tmp.toFile.listFiles().foreach(_.delete())
      tmp.toFile.delete()
    }
  }

  test("S3 sink round-trip: encoded shape survives write.json → read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val nested = Tickets.bindComments(spark, tickets)
    graft.sink.Json.writeTickets(nested, dir, "2024-03-31")
    val back = spark.read.json(s"$dir/processed_tickets2024-03-31")
    assert(back.count() == 60)
    val r = back.filter(col("id") === 1001).collect()(0)
    assert(r.getAs[String]("status") == "OPEN") // enum by name
    assert(r.getAs[String]("created_at") == "2024-03-01T08:00:00Z") // ISO
    assert(back.select(explode(col("comments"))).count() ==
      Tickets.allComments(spark, tickets).count())
  }

  test("typed Dataset boundary: TicketRow encoder round-trips the nested model") {
    val ds = TypedTickets.tickets(spark)
    val rows = ds.collect()
    assert(rows.length == 60)
    assert(rows.forall(_.comments.nonEmpty))
    val open = TypedTickets.latestCommentOfOpen(spark).collect()
    assert(open.length == 12 && open.forall(_._2.nonEmpty))
  }
}
