package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.ArgCode
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property-based cross-checks of the scale-shaped operators against naive
  * per-row reference implementations on randomized small inputs. */
object OpsProperties extends Properties("graft.ops") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark: SparkSession = graft.runtime.Dialect.local(4).getOrCreate()

  private val rowGen = for {
    k <- Gen.choose(0, 3)
    t <- Gen.choose(0L, 50L)
    id <- Gen.choose(0L, 1000L)
  } yield (s"k$k", t, id)

  private val sideGen = Gen.listOfN(25, rowGen)

  property("asOfJoin.backward == naive latest-right-at-or-before") = forAll(sideGen, sideGen) {
    (leftRows, rightRowsRaw) =>
      import spark.implicits._
      // right must be unique per (key, t): keep max id
      val rightRows = rightRowsRaw.groupBy(r => (r._1, r._2))
        .map { case ((k, t), rs) => (k, t, rs.map(_._3).max) }.toSeq
      val leftUnique = leftRows.zipWithIndex.map { case ((k, t, _), i) => (k, t, i.toLong) }
      val left = leftUnique.toDF("k", "t", "lid")
      val right = rightRows.toDF("k", "t", "rid")
      val got = graft.ops.AsOfJoin.backward(left, right, Seq("k"), "t", "t")
        .select($"lid", $"r_rid").as[(Long, Option[Long])].collect().toMap
      val expected = leftUnique.map { case (k, t, lid) =>
        val cand = rightRows.filter(r => r._1 == k && r._2 <= t)
        lid -> (if (cand.isEmpty) None
                else Some(cand.maxBy(r => (r._2, r._3))._3))
      }.toMap
      got == expected
  }

  property("asOfJoin.backwardSalted == backward for random inputs, splits, thresholds") =
    forAll(sideGen, sideGen, Gen.choose(2, 6), Gen.oneOf(1L, 3L, 10L)) {
      (leftRows, rightRowsRaw, splits, hotThreshold) =>
      import spark.implicits._
      val rightRows = rightRowsRaw.groupBy(r => (r._1, r._2))
        .map { case ((k, t), rs) => (k, t, rs.map(_._3).max) }.toSeq
      val leftUnique = leftRows.zipWithIndex.map { case ((k, t, _), i) => (k, t, i.toLong) }
      val left = leftUnique.toDF("k", "t", "lid")
      val right = rightRows.toDF("k", "t", "rid")
      val base = graft.ops.AsOfJoin.backward(left, right, Seq("k"), "t", "t")
        .select($"lid", $"r_rid", $"r_t").as[(Long, Option[Long], Option[Long])]
        .collect().toSet
      // hotThreshold=1 chunks EVERY key; 10 usually mixes hot and cold
      val salted = graft.ops.AsOfJoin.backwardSalted(left, right, Seq("k"), "t", "t",
          splits = splits, hotThreshold = hotThreshold, detectSample = 1.0)
        .select($"lid", $"r_rid", $"r_t").as[(Long, Option[Long], Option[Long])]
        .collect().toSet
      base == salted
    }

  private val evGen = Gen.listOfN(30, for {
    k <- Gen.choose(0, 2)
    t <- Gen.choose(0L, 200L)
  } yield (s"u$k", t))

  property("sessionize == naive gap fold") = forAll(evGen, Gen.choose(1L, 40L)) {
    (rows, gap) =>
      import spark.implicits._
      // unique order key per row to make ordering deterministic under ties
      val uniq = rows.zipWithIndex.map { case ((k, t), i) => (k, t * 1000 + i, t) }
      val df = uniq.toDF("k", "ord", "es")
      val got = graft.ops.Sessionize(df, "k", "ord", "es", gap)
        .select($"k", $"ord", $"session_num").as[(String, Long, Long)]
        .collect().map { case (k, o, s) => (k, o) -> s }.toMap
      val expected = uniq.groupBy(_._1).flatMap { case (k, rs) =>
        val sorted = rs.sortBy(_._2)
        var sess = 0L; var prev = Option.empty[Long]
        sorted.map { case (_, ord, es) =>
          if (prev.isEmpty || es - prev.get > gap) sess += 1
          prev = Some(es)
          (k, ord) -> sess
        }
      }
      got == expected
  }

  private val edgeGen = Gen.listOfN(20, for {
    a <- Gen.choose(0L, 15L)
    b <- Gen.choose(0L, 15L)
    if a != b
  } yield (math.min(a, b), math.max(a, b)))

  property("dupGroups == naive union-find components") = forAll(edgeGen) { edges0 =>
    import spark.implicits._
    val edges = if (edges0.nonEmpty) edges0 else List((0L, 1L))
    val pairs = edges.toDF("id_a", "id_b")
    val got = graft.ops.Dedup.dupGroups(pairs)
      .as[(Long, Long)].collect().toMap
    // naive union-find over the same edges (smaller root wins, so the final
    // root of every component is its minimum element)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(v => v -> find(v)).toMap
    got == expected
  }

  property("dupGroupsTwoPhase == dupGroups (large/small-star vs min-label)") =
    forAll(edgeGen) { edges0 =>
      import spark.implicits._
      val edges = if (edges0.nonEmpty) edges0 else List((0L, 1L))
      val pairs = edges.toDF("id_a", "id_b")
      val a = graft.ops.Dedup.dupGroups(pairs).as[(Long, Long)].collect().toMap
      val b = graft.ops.Dedup.dupGroupsTwoPhase(pairs).as[(Long, Long)].collect().toMap
      a == b
    }

  // ---- the exact string code behind exact_min_by / exact_max_by ----

  private val codePoint = Gen.frequency(
    1 -> Gen.const(0),                      // NUL
    3 -> Gen.choose(1, 0x7f),
    2 -> Gen.choose(0x80, 0x7ff),
    2 -> Gen.oneOf(Gen.choose(0x800, 0xd7ff), Gen.choose(0xe000, 0xffff)),
    2 -> Gen.choose(0x10000, 0x10ffff))     // supplementary: 4 UTF-8 bytes
  private def utf8Bytes(s: String): Int = s.getBytes("UTF-8").length
  private def str(cps: Seq[Int]): String = new String(cps.toArray, 0, cps.length)
  /** The longest prefix of a random code point list that fits the code. */
  private val fitting = Gen.choose(0, 15).flatMap(Gen.listOfN(_, codePoint)).map { cps =>
    str(cps.inits.find(p => utf8Bytes(str(p)) <= ArgCode.MaxBytes).get)
  }
  private val tooLong = Gen.choose(16, 30).flatMap(Gen.listOfN(_, codePoint)).map(str)
  private def encode(s: String) = ArgCode.encode(UTF8String.fromString(s))

  property("argCode: decode(encode(s)) == s up to 15 UTF-8 bytes") =
    forAll(Gen.listOfN(50, fitting)) { ss =>
      ss.forall(s => ArgCode.decode(encode(s)).toString == s)
    }

  property("argCode: encode is injective") =
    forAll(Gen.listOfN(50, fitting)) { ss =>
      // NUL-padded neighbours share every byte but a length or a position
      val all = (ss ++ ss.collect { case s if utf8Bytes(s) < ArgCode.MaxBytes =>
        Seq(s + "\u0000", "\u0000" + s) }.flatten).distinct
      all.map(encode).distinct.size == all.size
    }

  property("argCode: more than 15 UTF-8 bytes throws, naming the value") =
    forAll(Gen.listOfN(20, tooLong)) { ss =>
      ss.forall(s => scala.util.Try(encode(s)).failed.toOption
        .exists(_.getMessage.contains(s)))
    }

  // ---- macro param binding (the templater's Jinja-value semantics) ----

  private val ident = Gen.choose('a', 'z').flatMap(c =>
    Gen.listOfN(5, Gen.alphaNumChar).map(cs => (c :: cs).mkString))
  private val sqlArg = Gen.oneOf(
    ident,                                      // bare splice (a column)
    ident.map(i => s"COALESCE($i, 0)"),         // expression splice
    ident.map(i => s"'$i'"))                    // quoted string value

  property("macro binding: standalone splice = value; expression keeps quoting") =
    forAll(ident, sqlArg) { (p0, arg) =>
      val p = "p_" + p0 // avoid colliding with SQL text in the body
      val defs = runtime.SqlTemplater.parseMacros(
        s"{% macro m($p) %}SELECT {{ $p }} AS v, {% if $p == '$p0' %}1{% else %}0{% endif %} AS hit{% endmacro %}")
      val out = runtime.SqlTemplater.expandMacros(s"{{ m($arg) }}", defs)
      val value = if (arg.startsWith("'")) arg.substring(1, arg.length - 1) else arg
      // standalone {{ p }} spliced the VALUE (quotes stripped)
      val spliceOk = out.startsWith(s"SELECT $value AS v,")
      // the {% if %} context kept the RAW arg: quoted args stay string
      // literals there (== compares values); unquoted args are names, which
      // this engine treats strictly (unknown name = render error, not
      // silently-Undefined like Python Jinja)
      val branchOk =
        if (arg.startsWith("'")) {
          val branch = runtime.Jinja.render(out.substring(out.indexOf(",") + 1),
            runtime.Jinja.Env(Map.empty, isIncremental = false)).trim
          branch == (if (value == p0) "1 AS hit" else "0 AS hit")
        } else
          scala.util.Try(runtime.Jinja.render(out.substring(out.indexOf(",") + 1),
            runtime.Jinja.Env(Map.empty, isIncremental = false))).isFailure
      spliceOk && branchOk
    }

  private val boundedGen = for {
    values <- Gen.listOfN(12, Gen.option(Gen.choose(-50L, 50L)))
    files <- Gen.choose(1, 3)
    column <- Gen.oneOf("l", "d", "ntz")
    op <- Gen.oneOf("<", "<=", ">", ">=", "=")
    at <- Gen.choose(-80L, 80L)
    literalLeft <- Gen.oneOf(true, false)
  } yield (values, files, column, op, at, literalLeft)

  property("footer-bound empty scans == direct parquet read (long, date, timestamp_ntz)") =
    forAll(boundedGen) { case (values, files, column, op, at, literalLeft) =>
      import spark.implicits._
      def typed(v: String) = Map(
        "l" -> s"CAST($v AS BIGINT)",
        "d" -> s"DATE_ADD(DATE '2001-01-01', CAST($v AS INT))",
        "ntz" -> s"CAST(TIMESTAMP_SECONDS(978307200 + $v) AS TIMESTAMP_NTZ)")
      val dir = graft.runtime.TempDirs.create("graft_bounds_prop")
      val path = s"$dir/t.parquet"
      values.grouped(math.max(1, (values.size + files - 1) / files)).foreach { chunk =>
        chunk.toDF("v").selectExpr(Seq("l", "d", "ntz").map(c => s"${typed("v")(c)} AS $c"): _*)
          .write.mode("append").parquet(path)
      }
      val literal = typed(at.toString)(column)
      val flip = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=", "=" -> "=")
      val predicate = if (literalLeft) s"$literal ${flip(op)} $column" else s"$column $op $literal"
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.filter(org.apache.spark.sql.functions.expr(predicate)).collect().map(_.toString).sorted.toSeq
      rows(Tables(spark, dir, "t")) == rows(spark.read.parquet(path))
    }
}
