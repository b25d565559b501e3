package graft

import graft.io.DictStore
import graft.sparql.Algebra
import graft.sparql.Sparql._
import graft.sparql.Algebra.{Materialized, Op}
import org.apache.spark.sql.DataFrame

/** Dictionary-encoded store: differential equivalence against the
  * term-struct path on every major query shape, plus rewrite-shape
  * assertions (blocks swallowed, midpoints pruned) and plan checks
  * (intra-block joins carry only long columns).
  */
class DictStoreSpec extends SparqlSpecBase {

  private val stores = scala.collection.mutable.Map.empty[String, DictStore]
  private def store(fixtureName: String): DictStore =
    stores.getOrElseUpdate(fixtureName, {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-dict-${fixtureName.takeWhile(_ != '.')}")
        .toString
      DictStore.encode(TestSpark.fixture(fixtureName), dir)
    })

  /** Both paths must agree as multisets. */
  private def same(fixtureName: String, query: String): Unit = {
    val viaDict = collect(store(fixtureName).sparql(query))
    val viaTerms = run(fixtureName, query)
    assertResult(viaDict, viaTerms)
  }

  "DictStore" should "round-trip quads through encode/decode" in {
    val fx = TestSpark.fixture("union.ttl")
    val decoded = store("union.ttl").decode()
    decoded.count() shouldBe fx.count()
    // exact multiset equality of the four term columns
    fx.exceptAll(decoded).count() shouldBe 0
    decoded.exceptAll(fx).count() shouldBe 0
  }

  it should "answer a BGP join identically" in {
    same("optionals.ttl",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?n ?m { ?x foaf:name ?n . ?x foaf:mbox ?m }""".stripMargin)
  }

  it should "agree on COUNT(DISTINCT *) over a block with prunable vars" in {
    // COUNT(DISTINCT *) keys on ALL visible columns without naming a
    // variable, so reference counting alone would prune the block vars
    // and shrink the distinct key — rewrite() must disable pruning
    same("optionals.ttl",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT (COUNT(DISTINCT *) AS ?c)
        |{ ?x foaf:name ?n . ?x foaf:mbox ?m }""".stripMargin)
  }

  it should "handle constants absent from the dictionary (empty scan)" in {
    val rows = collect(store("union.ttl").sparql(
      "SELECT ?s { ?s <urn:p:never-in-this-data> ?o }"))
    rows shouldBe empty
  }

  it should "agree on OPTIONAL around a swallowed block" in {
    same("optionals.ttl",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?name ?mbox
        |{ ?x foaf:name ?name . OPTIONAL { ?x foaf:mbox ?mbox } }""".stripMargin)
  }

  it should "agree on UNION of blocks" in {
    same("union.ttl",
      """PREFIX dc10: <http://purl.org/dc/elements/1.0/>
        |PREFIX dc11: <http://purl.org/dc/elements/1.1/>
        |SELECT ?title
        |{ { ?book dc10:title ?title } UNION { ?book dc11:title ?title } }""".stripMargin)
  }

  it should "agree on FILTER over a block" in {
    same("inner_filter.ttl",
      """PREFIX : <http://example.com/>
        |SELECT ?x ?v
        |{ ?x :p ?v . ?x :q ?w . FILTER(?w < 4) }""".stripMargin)
  }

  it should "agree on aggregation over a block" in {
    same("group_by.ttl",
      """PREFIX : <http://books.example/>
        |SELECT ?org (SUM(?lprice) AS ?totalPrice)
        |{ ?org :affiliates ?auth . ?auth :writesBook ?book . ?book :price ?lprice }
        |GROUP BY ?org""".stripMargin)
  }

  it should "agree on DISTINCT with pruned midpoints" in {
    same("group_by.ttl",
      """PREFIX : <http://books.example/>
        |SELECT DISTINCT ?org
        |{ ?org :affiliates ?auth . ?auth :writesBook ?book }""".stripMargin)
  }

  it should "agree on GRAPH const and GRAPH var scans" in {
    same("graphs.trig",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?g ?name { GRAPH ?g { ?x foaf:name ?name } }""".stripMargin)
    same("graphs.trig",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?name
        |{ GRAPH <http://example.org/bob> { ?x foaf:name ?name } }""".stripMargin)
  }

  it should "agree on property paths (sequence and transitive)" in {
    same("property_paths.ttl",
      """PREFIX : <http://example/>
        |SELECT ?name { ?order :item/:name ?name }""".stripMargin)
    same("property_paths.ttl",
      """PREFIX : <http://example/>
        |SELECT ?a ?b { ?a (:item)+ ?b }""".stripMargin)
  }

  it should "agree on MINUS, EXISTS and subqueries around blocks" in {
    same("minus.ttl",
      """PREFIX : <http://example/>
        |PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?s { ?s ?p ?o MINUS { ?s foaf:givenName "Bob" } }""".stripMargin)
    same("optionals.ttl",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?n
        |{ ?x foaf:name ?n . FILTER EXISTS { ?x foaf:mbox ?m } }""".stripMargin)
  }

  it should "agree on ASK and CONSTRUCT" in {
    val fx = "optionals.ttl"
    val ask =
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |ASK { ?x foaf:name ?n . ?x foaf:mbox ?m }""".stripMargin
    store(fx).sparql(ask).collect().map(_.getBoolean(0)).toSeq shouldBe
      TestSpark.fixture(fx).sparql(ask).collect().map(_.getBoolean(0)).toSeq
    val q =
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |CONSTRUCT { ?x <urn:p:contact> ?m } WHERE { ?x foaf:mbox ?m }""".stripMargin
    val viaDict = store(fx).sparql(q).select("s", "p", "o")
    val viaTerms = TestSpark.fixture(fx).sparql(q).select("s", "p", "o")
    viaDict.exceptAll(viaTerms).count() shouldBe 0
    viaTerms.exceptAll(viaDict).count() shouldBe 0
  }

  it should "agree on repeated variables in one pattern" in {
    same("property_paths.ttl", "SELECT ?s ?p { ?s ?p ?s }")
  }

  // ----- rewrite-shape and plan assertions -----

  private def parseOptimized(q: String): Op =
    graft.sparql.SparqlParser.parseAny(q) match {
      case graft.sparql.SparqlParser.SelectQuery(op, _) =>
        graft.sparql.BgpOptimizer.optimize(op)
      case other => fail(s"not a select: $other")
    }

  private def materializedLeaves(op: Op): List[Materialized] = {
    val out = scala.collection.mutable.ListBuffer.empty[Materialized]
    def walk(o: Op): Unit = o match {
      case m: Materialized => out += m
      case Algebra.Join(l, r) => walk(l); walk(r)
      case Algebra.LeftJoin(l, r, _) => walk(l); walk(r)
      case Algebra.Union(l, r) => walk(l); walk(r)
      case Algebra.Minus(l, r) => walk(l); walk(r)
      case Algebra.Filter(c, _) => walk(c)
      case Algebra.Extend(c, _, _) => walk(c)
      case Algebra.Project(c, _) => walk(c)
      case Algebra.Distinct(c) => walk(c)
      case Algebra.Reduced(c) => walk(c)
      case Algebra.Group(c, _, _) => walk(c)
      case Algebra.Order(c, _) => walk(c)
      case Algebra.Slice(c, _, _) => walk(c)
      case alp: Algebra.ArbitraryLengthPath => walk(alp.edge)
      case _ => ()
    }
    walk(op)
    out.toList
  }

  it should "swallow a whole BGP as one materialized block and prune midpoints" in {
    val st = store("group_by.ttl")
    val op = parseOptimized(
      """PREFIX : <http://books.example/>
        |SELECT ?org ?lprice
        |{ ?org :affiliates ?auth . ?auth :writesBook ?book . ?book :price ?lprice }""".stripMargin)
    val blocks = materializedLeaves(st.rewrite(op))
    blocks should have size 1
    // ?auth and ?book are block-internal midpoints: never materialized
    blocks.head.varNames.toSet shouldBe Set("org", "lprice")
  }

  it should "keep midpoint variables that are referenced outside the block" in {
    val st = store("group_by.ttl")
    val op = parseOptimized(
      """PREFIX : <http://books.example/>
        |SELECT ?org ?auth
        |{ ?org :affiliates ?auth . ?auth :writesBook ?book }""".stripMargin)
    val blocks = materializedLeaves(st.rewrite(op))
    blocks should have size 1
    blocks.head.varNames.toSet shouldBe Set("org", "auth")
  }

  // ----- id-space OPTIONAL / MINUS / transitive paths -----

  private def countNodes(op: Op)(p: PartialFunction[Op, Boolean]): Int = {
    def hit(o: Op): Int = if (p.isDefinedAt(o) && p(o)) 1 else 0
    def walk(o: Op): Int = hit(o) + (o match {
      case Algebra.Join(l, r) => walk(l) + walk(r)
      case Algebra.LeftJoin(l, r, _) => walk(l) + walk(r)
      case Algebra.Union(l, r) => walk(l) + walk(r)
      case Algebra.Minus(l, r) => walk(l) + walk(r)
      case Algebra.Filter(c, _) => walk(c)
      case Algebra.Extend(c, _, _) => walk(c)
      case Algebra.Project(c, _) => walk(c)
      case Algebra.Distinct(c) => walk(c)
      case Algebra.Reduced(c) => walk(c)
      case Algebra.Group(c, _, _) => walk(c)
      case Algebra.Order(c, _) => walk(c)
      case Algebra.Slice(c, _, _) => walk(c)
      case alp: Algebra.ArbitraryLengthPath => walk(alp.edge)
      case _ => 0
    })
    walk(op)
  }

  private val foafOptional =
    """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
      |SELECT ?name ?mbox
      |{ ?x foaf:name ?name . OPTIONAL { ?x foaf:mbox ?mbox } }""".stripMargin

  it should "swallow a condition-free OPTIONAL into one id-space block" in {
    val st = store("optionals.ttl")
    val rewritten = st.rewrite(parseOptimized(foafOptional))
    countNodes(rewritten) { case _: Algebra.LeftJoin => true } shouldBe 0
    val blocks = materializedLeaves(rewritten)
    blocks should have size 1
    blocks.head.varNames.toSet shouldBe Set("name", "mbox")
    // the optional join itself runs on longs (LeftOuter over id columns)
    val plan = blocks.head.df.queryExecution.optimizedPlan.toString
    plan should include regex raw"Join LeftOuter, \(\w+#\d+L = \w+#\d+L\)"
  }

  it should "preserve rows with NULL optional vars through materialization" in {
    // Bob has no mbox: the id-space left join leaves a NULL id and the
    // dict materialization must keep the row (left_outer), not drop it
    val rows = collect(store("optionals.ttl").sparql(foafOptional))
    rows.exists(r => r.contains("name") && !r.contains("mbox")) shouldBe true
    same("optionals.ttl", foafOptional)
  }

  it should "run a value-conditioned OPTIONAL in id space via hybrid decode" in {
    val st = store("inner_filter.ttl")
    val q =
      """PREFIX : <http://example.com/>
        |SELECT ?x ?w { ?x :p ?v . OPTIONAL { ?x :q ?w . FILTER(?w < 4) } }""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.LeftJoin => true } shouldBe 0
    materializedLeaves(rewritten) should have size 1
    same("inner_filter.ttl", q)
    // condition referencing BOTH sides evaluates on the merged row
    same("inner_filter.ttl",
      """PREFIX : <http://example.com/>
        |SELECT ?x ?v ?w
        |{ ?x :p ?v . OPTIONAL { ?x :q ?w . FILTER(?w < ?v) } }""".stripMargin)
  }

  it should "swallow a right-only term-identity OPTIONAL condition into id space" in {
    val st = store("group_by.ttl")
    // the condition references only right-side vars and is an IRI
    // equality → pre-filter the right id frame, stay condition-free
    val q =
      """PREFIX : <http://books.example/>
        |SELECT ?org ?b
        |{ ?org :affiliates ?auth .
        |  OPTIONAL { ?auth :writesBook ?b . FILTER(?b = :book3) } }""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.LeftJoin => true } shouldBe 0
    materializedLeaves(rewritten) should have size 1
    same("group_by.ttl", q)
    // a LEFT-referencing identity condition must NOT pre-filter the
    // right side — it evaluates on the merged row (hybrid), and the
    // whole spine still stays in id space
    val q2 =
      """PREFIX : <http://books.example/>
        |SELECT ?org ?b
        |{ ?org :affiliates ?auth .
        |  OPTIONAL { ?auth :writesBook ?b . FILTER(?org = :org1) } }""".stripMargin
    countNodes(st.rewrite(parseOptimized(q2))) {
      case _: Algebra.LeftJoin => true
    } shouldBe 0
    same("group_by.ttl", q2)
  }

  it should "swallow MINUS into an id-space anti join" in {
    val st = store("minus.ttl")
    val q =
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?s { ?s ?p ?o MINUS { ?s foaf:givenName "Bob" } }""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.Minus => true } shouldBe 0
    val blocks = materializedLeaves(rewritten)
    blocks should have size 1
    blocks.head.df.queryExecution.optimizedPlan.toString should
      include("Join LeftAnti")
    same("minus.ttl", q)
  }

  it should "keep a shared-nothing MINUS on the standard compiler" in {
    val st = store("minus.ttl")
    val q =
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?s { ?s foaf:givenName ?n MINUS { ?t foaf:familyName "Smith" } }""".stripMargin
    countNodes(st.rewrite(parseOptimized(q))) {
      case _: Algebra.Minus => true
    } shouldBe 1
    same("minus.ttl", q)
  }

  it should "stack OPTIONAL and MINUS in one id-space spine" in {
    same("minus.ttl",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?s ?f
        |{ ?s foaf:givenName ?n . OPTIONAL { ?s foaf:familyName ?f }
        |  MINUS { ?s foaf:givenName "Bob" } }""".stripMargin)
  }

  it should "lower FILTER [NOT] EXISTS to id-space semi/anti joins" in {
    val st = store("optionals.ttl")
    val q =
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?n { ?x foaf:name ?n . FILTER NOT EXISTS { ?x foaf:mbox ?m } }""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.Filter => true } shouldBe 0
    val blocks = materializedLeaves(rewritten)
    blocks should have size 1
    blocks.head.df.queryExecution.optimizedPlan.toString should
      include("Join LeftAnti")
    same("optionals.ttl", q)
    // positive EXISTS → semi join, same machinery
    val q2 = q.replace("NOT EXISTS", "EXISTS")
    val b2 = materializedLeaves(st.rewrite(parseOptimized(q2)))
    b2 should have size 1
    b2.head.df.queryExecution.optimizedPlan.toString should
      include("Join LeftSemi")
    same("optionals.ttl", q2)
  }

  it should "lower term-identity filters (sameTerm, = constant IRI) to id predicates" in {
    val st = store("group_by.ttl")
    val q =
      """PREFIX : <http://books.example/>
        |SELECT ?auth { ?org :affiliates ?auth . FILTER(?org = :org1) }""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.Filter => true } shouldBe 0
    same("group_by.ttl", q)
    // reversed operand order; constant absent from the data → empty
    same("group_by.ttl",
      """PREFIX : <http://books.example/>
        |SELECT ?auth { ?org :affiliates ?auth . FILTER(:org2 = ?org) }""".stripMargin)
    collect(st.sparql(
      """PREFIX : <http://books.example/>
        |SELECT ?auth { ?org :affiliates ?auth . FILTER(?org = :nowhere) }""".stripMargin)) shouldBe empty
    // sameTerm var-var and var-literal-constant (term identity works
    // for ANY constant), and combined with EXISTS in one conjunction
    same("property_paths.ttl",
      """PREFIX : <http://example/>
        |SELECT ?a ?b { ?a :price ?p . ?b :price ?q .
        |  FILTER(sameTerm(?p, ?q)) }""".stripMargin)
    same("group_by.ttl",
      """PREFIX : <http://books.example/>
        |SELECT ?b { ?b :price ?p . FILTER(sameTerm(?p, 7)) }""".stripMargin)
    same("group_by.ttl",
      """PREFIX : <http://books.example/>
        |SELECT ?auth
        |{ ?org :affiliates ?auth .
        |  FILTER(?org = :org1 && EXISTS { ?auth :writesBook ?b }) }""".stripMargin)
  }

  it should "run value filters in id space via hybrid decode" in {
    val st = store("group_by.ttl")
    // numeric literal =: "1"^^int vs "01"^^int alias in value space,
    // so this is NOT an id predicate — it decodes ?p's term and
    // evaluates the standard value-equality predicate in id space
    val q1 =
      """PREFIX : <http://books.example/>
        |SELECT ?b { ?b :price ?p . FILTER(?p = 7) }""".stripMargin
    val r1 = st.rewrite(parseOptimized(q1))
    countNodes(r1) { case _: Algebra.Filter => true } shouldBe 0
    materializedLeaves(r1) should have size 1
    same("group_by.ttl", q1)
    // != keeps rows id-inequality would keep wrongly (error → drop) —
    // hybrid evaluates true value-inequality
    val q2 =
      """PREFIX : <http://books.example/>
        |SELECT ?auth { ?org :affiliates ?auth . FILTER(?org != :org1) }""".stripMargin
    countNodes(st.rewrite(parseOptimized(q2))) {
      case _: Algebra.Filter => true
    } shouldBe 0
    same("group_by.ttl", q2)
    // value comparison over an optional var (NULL ids decode to
    // unbound → error → drop, same as the standard compiler)
    same("optionals.ttl",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?name ?mbox
        |{ ?x foaf:name ?name . OPTIONAL { ?x foaf:mbox ?mbox }
        |  FILTER(STR(?mbox) > "mailto:b") }""".stripMargin)
    // string/regex functions run on the decoded term too
    same("optionals.ttl",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?name { ?x foaf:name ?name . FILTER(REGEX(?name, "^A")) }""".stripMargin)
  }

  it should "mix scalar and EXISTS conjuncts in one id-space filter" in {
    val st = store("inner_filter.ttl")
    // scalar conjunct (hybrid decode) alongside an id-space EXISTS
    val q1 =
      """PREFIX : <http://example.com/>
        |SELECT ?x ?v { ?x :p ?v
        |  FILTER(?v > 1 && EXISTS { ?x :q ?w }) }""".stripMargin
    val r1 = st.rewrite(parseOptimized(q1))
    countNodes(r1) { case _: Algebra.Filter => true } shouldBe 0
    same("inner_filter.ttl", q1)
    // inner FILTER referencing the outer scope (correlated lift) now
    // runs in id space too: long equality carries the semi join,
    // the lifted conjunct evaluates on hybrid-decoded terms
    val q2 =
      """PREFIX : <http://example.com/>
        |SELECT ?x ?v { ?x :p ?v
        |  FILTER EXISTS { ?x :q ?w FILTER(?w < ?v) } }""".stripMargin
    countNodes(st.rewrite(parseOptimized(q2))) {
      case _: Algebra.Filter => true
    } shouldBe 0
    same("inner_filter.ttl", q2)
  }

  it should "run correlated EXISTS inner filters in id space" in {
    val st = store("inner_filter.ttl")
    // correlated NOT EXISTS → anti join with the lifted condition in
    // the join predicate (not a post-hoc filter)
    val q1 =
      """PREFIX : <http://example.com/>
        |SELECT ?x ?v { ?x :p ?v
        |  FILTER NOT EXISTS { ?x :q ?w FILTER(?w > ?v) } }""".stripMargin
    val r1 = st.rewrite(parseOptimized(q1))
    countNodes(r1) { case _: Algebra.Filter => true } shouldBe 0
    val blocks = materializedLeaves(r1)
    blocks should have size 1
    blocks.head.df.queryExecution.optimizedPlan.toString should
      include("Join LeftAnti")
    same("inner_filter.ttl", q1)
    // LOCAL + CORRELATED conjuncts in one inner filter: the local one
    // pre-filters the subpattern, the correlated one joins
    same("inner_filter.ttl",
      """PREFIX : <http://example.com/>
        |SELECT ?x ?v { ?x :p ?v
        |  FILTER EXISTS { ?x :q ?w FILTER(?w > 1 && ?w < ?v + 3) } }""".stripMargin)
    // correlated condition over an UNASSURED outer var (OPTIONAL):
    // unbound decodes to an unbound term → error → no match, exactly
    // the standard compiler's env semantics
    same("optionals.ttl",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?name ?mbox
        |{ ?x foaf:name ?name . OPTIONAL { ?x foaf:mbox ?mbox }
        |  FILTER EXISTS { ?x foaf:name ?n2 FILTER(STR(?n2) <= STR(?mbox)) } }""".stripMargin)
    // a local conjunct referencing a SIBLING branch variable would
    // evaluate differently at-position vs post-join — must fall back
    val qSibling =
      """PREFIX : <http://example.com/>
        |SELECT ?x ?v { ?x :p ?v
        |  FILTER EXISTS { { ?x :q ?w FILTER(?u > 0) } ?x :p ?u } }""".stripMargin
    countNodes(st.rewrite(parseOptimized(qSibling))) {
      case _: Algebra.Filter => true
    } should be >= 1
    same("inner_filter.ttl", qSibling)
  }

  it should "keep COUNT aggregations in id space, decoding keys post-agg" in {
    val st = store("group_by.ttl")
    val q =
      """PREFIX : <http://books.example/>
        |SELECT ?org (COUNT(?book) AS ?n) (COUNT(DISTINCT ?auth) AS ?na)
        |{ ?org :affiliates ?auth . ?auth :writesBook ?book }
        |GROUP BY ?org""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.Group => true } shouldBe 0
    val blocks = materializedLeaves(rewritten)
    blocks should have size 1
    // aggregate outputs carry parser-internal names (?n/?na bind via
    // Extend above) — the key var plus one column per aggregate
    blocks.head.varNames.head shouldBe "org"
    blocks.head.varNames should have size 3
    // the aggregation itself runs BEFORE any dict join: under the
    // Aggregate there are only long columns (no term structs)
    val plan = blocks.head.df.queryExecution.optimizedPlan
    val aggNode = plan.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.get
    aggNode.child.output.forall(
      _.dataType == org.apache.spark.sql.types.LongType) shouldBe true
    same("group_by.ttl", q)
  }

  it should "agree on COUNT over optional vars and global COUNT in id space" in {
    // COUNT(?mbox) counts only BOUND optional rows — NULL ids must
    // stay NULL through the id-space left join
    same("optionals.ttl",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?name (COUNT(?mbox) AS ?n)
        |{ ?x foaf:name ?name . OPTIONAL { ?x foaf:mbox ?mbox } }
        |GROUP BY ?name""".stripMargin)
    same("optionals.ttl",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT (COUNT(*) AS ?c) { ?x foaf:name ?n }""".stripMargin)
    // HAVING lifts to a Filter above the id-space aggregate
    same("group_by.ttl",
      """PREFIX : <http://books.example/>
        |SELECT ?org (COUNT(?book) AS ?n)
        |{ ?org :affiliates ?auth . ?auth :writesBook ?book }
        |GROUP BY ?org HAVING(COUNT(?book) > 1)""".stripMargin)
  }

  it should "run SAMPLE in id space, decoding a true group member" in {
    val st = store("group_by.ttl")
    val q =
      """PREFIX : <http://books.example/>
        |SELECT ?org (SAMPLE(?auth) AS ?a) (COUNT(?auth) AS ?n)
        |{ ?org :affiliates ?auth } GROUP BY ?org""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.Group => true } shouldBe 0
    // SAMPLE is nondeterministic by spec: assert the decoded sample IS
    // a member of its group (and counts match the standard compiler)
    val viaDict = collect(st.sparql(q))
    val members = run("group_by.ttl",
      """PREFIX : <http://books.example/>
        |SELECT ?org ?auth { ?org :affiliates ?auth }""".stripMargin)
      .groupBy(_("org")).view.mapValues(_.map(_("auth")).toSet).toMap
    viaDict should have size 2
    viaDict.foreach { row =>
      members(row("org")) should contain(row("a"))
    }
    viaDict.map(r => r("org") -> r("n")).toMap shouldBe
      run("group_by.ttl",
        """PREFIX : <http://books.example/>
          |SELECT ?org (COUNT(?auth) AS ?n)
          |{ ?org :affiliates ?auth } GROUP BY ?org""".stripMargin)
        .map(r => r("org") -> r("n")).toMap
  }

  it should "run SUM/AVG/GROUP_CONCAT in id space with long group keys" in {
    val st = store("group_by.ttl")
    val q =
      """PREFIX : <http://books.example/>
        |SELECT ?org (SUM(?p) AS ?t) (AVG(?p) AS ?m)
        |       (GROUP_CONCAT(?p; separator=",") AS ?g)
        |{ ?org :affiliates ?auth . ?auth :writesBook ?b . ?b :price ?p }
        |GROUP BY ?org""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.Group => true } shouldBe 0
    // the aggregation's group keys stay LONGS (only ?p's term column
    // hybrid-decodes for the shared accumulator)
    val blocks = materializedLeaves(rewritten)
    blocks should have size 1
    val aggNode = blocks.head.df.queryExecution.optimizedPlan.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.get
    aggNode.groupingExpressions.forall(
      _.dataType == org.apache.spark.sql.types.LongType) shouldBe true
    same("group_by.ttl", q)
    // error poisoning must ride along: a group mixing numbers with an
    // IRI sums to unbound, exactly like the standard compiler
    same("property_paths.ttl",
      """PREFIX : <http://example/>
        |SELECT ?s (SUM(?o) AS ?t) { ?s ?p ?o } GROUP BY ?s""".stripMargin)
  }

  it should "aggregate computed expressions in id space" in {
    val st = store("group_by.ttl")
    val q =
      """PREFIX : <http://books.example/>
        |SELECT ?org (SUM(?p * 2) AS ?t) (MIN(STR(?b)) AS ?mb)
        |{ ?org :affiliates ?a . ?a :writesBook ?b . ?b :price ?p }
        |GROUP BY ?org""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.Group => true } shouldBe 0
    same("group_by.ttl", q)
    // ungrouped global aggregate over an expression
    same("group_by.ttl",
      """PREFIX : <http://books.example/>
        |SELECT (AVG(?p + 1) AS ?m) (COUNT(DISTINCT ?p) AS ?n)
        |{ ?b :price ?p }""".stripMargin)
  }

  it should "compute BIND over a block in id space" in {
    val st = store("group_by.ttl")
    val q =
      """PREFIX : <http://books.example/>
        |SELECT ?b ?dbl { ?b :price ?p . BIND(?p * 2 AS ?dbl) }""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.Extend => true } shouldBe 0
    materializedLeaves(rewritten) should have size 1
    same("group_by.ttl", q)
    // the bound var feeding a later FILTER above the block (the filter
    // runs on the materialized term column; values must agree)
    same("group_by.ttl",
      """PREFIX : <http://books.example/>
        |SELECT ?b { ?b :price ?p . BIND(?p * 2 AS ?d) FILTER(?d > 10) }""".stripMargin)
    // expression over an optional var: unbound rows bind an error →
    // unbound, exactly like the standard compiler
    same("optionals.ttl",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?name ?u
        |{ ?x foaf:name ?name . OPTIONAL { ?x foaf:mbox ?mbox }
        |  BIND(UCASE(STR(?mbox)) AS ?u) }""".stripMargin)
  }

  it should "pay one dict join for a var used by both MIN and SUM" in {
    val st = store("group_by.ttl")
    val q =
      """PREFIX : <http://books.example/>
        |SELECT ?org (MIN(?p) AS ?lo) (SUM(?p) AS ?t)
        |{ ?org :affiliates ?a . ?a :writesBook ?b . ?b :price ?p }
        |GROUP BY ?org""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.Group => true } shouldBe 0
    // under the Aggregate: 2 intra-block joins + exactly ONE dict
    // decode join for ?p (the MIN sort key derives from the decoded
    // term instead of a second dict join)
    val blocks = materializedLeaves(rewritten)
    val aggNode = blocks.head.df.queryExecution.optimizedPlan.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.get
    aggNode.child.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size shouldBe 3
    same("group_by.ttl", q)
  }

  it should "apply FROM / FROM NAMED on the long quad table" in {
    // the dataset clause pre-transforms idQuads (graph ids filter +
    // default retag), so scoped queries keep the whole id fast path
    same("graphs.trig",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?name FROM <http://example.org/bob>
        |{ ?x foaf:name ?name }""".stripMargin)
    // two FROM graphs merge into the default graph (bag semantics)
    same("graphs.trig",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?name
        |FROM <http://example.org/bob> FROM <http://example.org/alice>
        |{ ?x foaf:name ?name }""".stripMargin)
    // FROM NAMED restricts GRAPH enumeration; unlisted graphs vanish
    same("graphs.trig",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?g ?name FROM NAMED <http://example.org/alice>
        |{ GRAPH ?g { ?x foaf:name ?name } }""".stripMargin)
    // FROM-only dataset: named graphs are EMPTY
    same("graphs.trig",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?g ?name FROM <http://example.org/bob>
        |{ GRAPH ?g { ?x foaf:name ?name } }""".stripMargin)
    // a FROM graph absent from the data: zero rows, not an error
    same("graphs.trig",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?name FROM <http://example.org/nowhere>
        |{ ?x foaf:name ?name }""".stripMargin)
  }

  it should "answer DESCRIBE like the decoded quads, with and without FROM" in {
    val st = store("graphs.trig")
    val prologue = "PREFIX dc: <http://purl.org/dc/elements/1.1/>\n" +
      "PREFIX foaf: <http://xmlns.com/foaf/0.1/>\n"
    Seq(
      """DESCRIBE ?g { ?g dc:publisher "Bob" }""" -> true,
      """DESCRIBE ?x FROM <tag:example.org,2005-06-06:graph1>
        |{ ?x foaf:mbox ?m }""".stripMargin -> true,
      """DESCRIBE * FROM <tag:graph3> FROM NAMED <tag:graph4>
        |{ ?s ?p ?o }""".stripMargin -> true,
      """DESCRIBE ?x FROM <http://example.org/nowhere>
        |{ ?x foaf:name ?n }""".stripMargin -> false
    ).foreach { case (q, nonEmpty) =>
      withClue(q) {
        val viaStore = st.sparql(prologue + q)
        val viaTerms = st.decode().sparql(prologue + q)
        viaStore.exceptAll(viaTerms).count() shouldBe 0
        viaTerms.exceptAll(viaStore).count() shouldBe 0
        (viaTerms.count() > 0) shouldBe nonEmpty
      }
    }
  }

  it should "join a fully-defined VALUES probe list in id space" in {
    val st = store("group_by.ttl")
    val q =
      """PREFIX : <http://books.example/>
        |SELECT ?org ?auth
        |{ ?org :affiliates ?auth . VALUES ?org { :org1 } }""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.Values => true } shouldBe 0
    countNodes(rewritten) { case _: Algebra.Join => true } shouldBe 0
    same("group_by.ttl", q)
    // multi-var, multi-row probe list; one row names a term absent
    // from the data — it must contribute nothing, not everything
    same("group_by.ttl",
      """PREFIX : <http://books.example/>
        |SELECT ?org ?auth
        |{ ?org :affiliates ?auth .
        |  VALUES (?org ?auth) { (:org1 :auth1) (:org2 :auth9) } }""".stripMargin)
    // duplicate probe rows multiply matches (bag semantics)
    same("group_by.ttl",
      """PREFIX : <http://books.example/>
        |SELECT ?org ?auth
        |{ ?org :affiliates ?auth . VALUES ?org { :org1 :org1 } }""".stripMargin)
  }

  it should "keep UNDEF and unshared-var VALUES on the standard compiler" in {
    val st = store("group_by.ttl")
    // UNDEF needs compat NULL-matches-anything semantics
    val q1 =
      """PREFIX : <http://books.example/>
        |SELECT ?org ?auth
        |{ ?org :affiliates ?auth .
        |  VALUES (?org ?auth) { (:org1 UNDEF) } }""".stripMargin
    countNodes(st.rewrite(parseOptimized(q1))) {
      case _: Algebra.Values => true
    } shouldBe 1
    same("group_by.ttl", q1)
    // a VALUES-only var could name a term absent from the dictionary —
    // it must bind the original term, which id space cannot express
    val q2 =
      """PREFIX : <http://books.example/>
        |SELECT ?org ?x
        |{ ?org :affiliates ?auth . VALUES (?org ?x) { (:org1 :elsewhere) } }""".stripMargin
    countNodes(st.rewrite(parseOptimized(q2))) {
      case _: Algebra.Values => true
    } shouldBe 1
    same("group_by.ttl", q2)
  }

  it should "run DISTINCT SUM/AVG in id space via a long-tuple pre-dedup" in {
    val st = store("group_by.ttl")
    val q =
      """PREFIX : <http://books.example/>
        |SELECT ?org (SUM(DISTINCT ?p) AS ?t) (AVG(DISTINCT ?p) AS ?m)
        |       (COUNT(?b) AS ?n)
        |{ ?org :affiliates ?auth . ?auth :writesBook ?b . ?b :price ?p }
        |GROUP BY ?org""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.Group => true } shouldBe 0
    same("group_by.ttl", q)
    // ungrouped, and ALL aggregates on the side path (seeded one row)
    same("group_by.ttl",
      """PREFIX : <http://books.example/>
        |SELECT (SUM(DISTINCT ?p) AS ?t) { ?b :price ?p }""".stripMargin)
    // DISTINCT over a computed expression dedups the evaluated value
    same("group_by.ttl",
      """PREFIX : <http://books.example/>
        |SELECT ?org (SUM(DISTINCT ?p * 0) AS ?z)
        |{ ?org :affiliates ?a . ?a :writesBook ?b . ?b :price ?p }
        |GROUP BY ?org""".stripMargin)
  }

  it should "run MIN/MAX in id space through dict-joined sort keys" in {
    val st = store("group_by.ttl")
    val q =
      """PREFIX : <http://books.example/>
        |SELECT ?org (MIN(?p) AS ?lo) (MAX(?p) AS ?hi) (COUNT(?b) AS ?n)
        |{ ?org :affiliates ?auth . ?auth :writesBook ?b . ?b :price ?p }
        |GROUP BY ?org""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.Group => true } shouldBe 0
    // the aggregation's group keys are still longs (the skey join adds
    // a sort-key struct column for ?p, but no term structs pre-agg)
    val blocks = materializedLeaves(rewritten)
    blocks should have size 1
    val aggNode = blocks.head.df.queryExecution.optimizedPlan.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.get
    aggNode.groupingExpressions.forall(
      _.dataType == org.apache.spark.sql.types.LongType) shouldBe true
    same("group_by.ttl", q)
    // min/max over mixed types order by the same documented total
    // order as the standard compiler (IRIs rank below numerics etc.)
    same("property_paths.ttl",
      """PREFIX : <http://example/>
        |SELECT (MIN(?o) AS ?lo) (MAX(?o) AS ?hi) { ?s ?p ?o }""".stripMargin)
    // MIN over an optional var: unbound rows are skipped; an all-NULL
    // group yields unbound
    same("optionals.ttl",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?name (MAX(?mbox) AS ?m)
        |{ ?x foaf:name ?name . OPTIONAL { ?x foaf:mbox ?mbox } }
        |GROUP BY ?name""".stripMargin)
  }

  it should "run ORDER BY + LIMIT as id-space top-k, decoding only k rows" in {
    val st = store("group_by.ttl")
    val q =
      """PREFIX : <http://books.example/>
        |SELECT ?b ?p { ?b :price ?p } ORDER BY DESC(?p) ?b LIMIT 2""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.Order => true } shouldBe 0
    countNodes(rewritten) { case _: Algebra.Slice => true } shouldBe 0
    materializedLeaves(rewritten) should have size 1
    // ordered comparison: the dict path must return the same ROWS in
    // the same ORDER as the standard compiler
    collect(st.sparql(q)) shouldBe run("group_by.ttl", q)
    // OFFSET slices after the ordered decode
    val q2 =
      """PREFIX : <http://books.example/>
        |SELECT ?b ?p { ?b :price ?p } ORDER BY ?p ?b LIMIT 2 OFFSET 1""".stripMargin
    collect(st.sparql(q2)) shouldBe run("group_by.ttl", q2)
    // sort var NOT in the projection: skeys carry, ids prune
    val q3 =
      """PREFIX : <http://books.example/>
        |SELECT ?b { ?b :price ?p } ORDER BY DESC(?p) DESC(?b) LIMIT 2""".stripMargin
    collect(st.sparql(q3)) shouldBe run("group_by.ttl", q3)
  }

  it should "sort top-k on computed expressions in id space" in {
    val st = store("group_by.ttl")
    // expression sort key: hybrid-decode ?p, sort on
    // sortKey(value(?p + 1)) — mixed with a plain-var tiebreak
    val q1 =
      """PREFIX : <http://books.example/>
        |SELECT ?b ?p { ?b :price ?p } ORDER BY (?p + 1) ?b LIMIT 2""".stripMargin
    val r1 = st.rewrite(parseOptimized(q1))
    countNodes(r1) { case _: Algebra.Order => true } shouldBe 0
    collect(st.sparql(q1)) shouldBe run("group_by.ttl", q1)
    val q1d = q1.replace("(?p + 1) ?b", "DESC(?p + 1) DESC(?b)")
    collect(st.sparql(q1d)) shouldBe run("group_by.ttl", q1d)
  }

  it should "keep LIMIT-less ORDER on the standard compiler" in {
    val st = store("group_by.ttl")
    // no LIMIT → full sort, nothing to prune: stays standard
    val q2 =
      """PREFIX : <http://books.example/>
        |SELECT ?b ?p { ?b :price ?p } ORDER BY ?p ?b""".stripMargin
    countNodes(st.rewrite(parseOptimized(q2))) {
      case _: Algebra.Order => true
    } shouldBe 1
    collect(st.sparql(q2)) shouldBe run("group_by.ttl", q2)
  }

  it should "run UNION (and joins above it) in id space when shared vars are assured" in {
    val st = store("union.ttl")
    val q =
      """PREFIX dc10: <http://purl.org/dc/elements/1.0/>
        |PREFIX dc11: <http://purl.org/dc/elements/1.1/>
        |SELECT ?title
        |{ { ?book dc10:title ?title } UNION { ?book dc11:title ?title } }""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.Union => true } shouldBe 0
    materializedLeaves(rewritten) should have size 1
    same("union.ttl", q)
    // branches with DIFFERENT vars: the absent var pads as NULL ids
    // and must materialize to unbound terms
    same("union.ttl",
      """PREFIX dc10: <http://purl.org/dc/elements/1.0/>
        |PREFIX dc11: <http://purl.org/dc/elements/1.1/>
        |SELECT ?title ?creator
        |{ { ?b dc10:title ?title . ?b dc10:creator ?creator }
        |  UNION { ?b dc11:title ?title } }""".stripMargin)
    // DISTINCT over the union dedups id tuples before decoding
    same("union.ttl",
      """PREFIX dc10: <http://purl.org/dc/elements/1.0/>
        |PREFIX dc11: <http://purl.org/dc/elements/1.1/>
        |SELECT DISTINCT ?title
        |{ { ?b dc10:title ?title } UNION { ?b dc11:title ?title } }""".stripMargin)
  }

  it should "keep joins over a union on the standard compiler when shared vars are possibly-null" in {
    val st = store("optionals2.ttl")
    // ?x is assured in both branches → the join IS id-safe
    val ok =
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?n ?m
        |{ { ?x foaf:name ?n } UNION { ?x foaf:nick ?n } . ?x foaf:mbox ?m }""".stripMargin
    countNodes(st.rewrite(parseOptimized(ok))) {
      case _: Algebra.Join => true
    } shouldBe 0
    same("optionals2.ttl", ok)
  }

  it should "dedup DISTINCT on long tuples before materialization" in {
    val st = store("group_by.ttl")
    val q =
      """PREFIX : <http://books.example/>
        |SELECT DISTINCT ?org
        |{ ?org :affiliates ?auth . ?auth :writesBook ?book }""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.Distinct => true } shouldBe 0
    val blocks = materializedLeaves(rewritten)
    blocks should have size 1
    // the dedup runs over long attributes, under the dict joins (the
    // optimizer rewrites Deduplicate to a grouping-only Aggregate)
    val plan = blocks.head.df.queryExecution.optimizedPlan
    val dedupKeys = plan.collectFirst {
      case d: org.apache.spark.sql.catalyst.plans.logical.Deduplicate =>
        d.keys.map(_.dataType)
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
        if a.aggregateExpressions.length == a.groupingExpressions.length =>
        a.groupingExpressions.map(_.dataType)
    }.get
    dedupKeys should not be empty
    dedupKeys.forall(_ == org.apache.spark.sql.types.LongType) shouldBe true
    same("group_by.ttl", q)
    // DISTINCT over an OPTIONAL spine (NULL ids participate in dedup)
    same("optionals.ttl",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT DISTINCT ?name ?mbox
        |{ ?x foaf:name ?name . OPTIONAL { ?x foaf:mbox ?mbox } }""".stripMargin)
    // REDUCED maps to the same id-space dedup
    same("group_by.ttl",
      """PREFIX : <http://books.example/>
        |SELECT REDUCED ?org { ?org :affiliates ?auth }""".stripMargin)
  }

  it should "run eligible transitive paths in id space" in {
    val st = store("chain.ttl")
    val q =
      """PREFIX : <http://example/>
        |SELECT ?s ?o { ?s :next+ ?o }""".stripMargin
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) {
      case _: Algebra.ArbitraryLengthPath => true
    } shouldBe 0
    materializedLeaves(rewritten) should have size 1
  }

  it should "agree on every ALP shape over the chain fixture" in {
    val P = "PREFIX : <http://example/>\n"
    same("chain.ttl", P + "SELECT ?s ?o { ?s :next+ ?o }")
    same("chain.ttl", P + "SELECT ?s ?o { ?s :next* ?o }")
    same("chain.ttl", P + "SELECT ?o { :a :next+ ?o }")
    same("chain.ttl", P + "SELECT ?s { ?s :next+ :d }")
    same("chain.ttl", P + "SELECT ?x { ?x :next+ ?x }")
    // zero-length with a constant endpoint: INELIGIBLE (the constant
    // might be absent from the dict) — must fall back and still agree
    same("chain.ttl", P + "SELECT ?o { :a :next* ?o }")
    // constant absent from the data entirely: + is empty, * binds self
    collect(store("chain.ttl").sparql(
      P + "SELECT ?o { :nowhere :next+ ?o }")) shouldBe empty
    same("chain.ttl", P + "SELECT ?o { :nowhere :next* ?o }")
  }

  it should "run var-var zero-length paths in id space" in {
    val st = store("chain.ttl")
    val q = "PREFIX : <http://example/>\nSELECT ?s ?o { ?s :next? ?o }"
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) { case _: Algebra.ZeroLengthPath => true } shouldBe 0
    same("chain.ttl", q)
    // per-named-graph zero-length (GRAPH ?g binds alongside the pair)
    same("graphs.trig",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?g ?x ?m { GRAPH ?g { ?x (foaf:mbox)? ?m } }""".stripMargin)
  }

  it should "split zero-length-with-constant ALP into zero ∪ id-space plus" in {
    // until round 10 this shape was the rewriter's last standard-
    // compiler fallback; now the `+` closure must land in id space
    // (a Materialized leaf) with no residual path node in the tree
    val st = store("chain.ttl")
    val q = "PREFIX : <http://example/>\nSELECT ?o { :a :next* ?o }"
    val rewritten = st.rewrite(parseOptimized(q))
    countNodes(rewritten) {
      case _: Algebra.ArbitraryLengthPath => true
      case _: Algebra.ZeroLengthPath => true
    } shouldBe 0
    materializedLeaves(rewritten).size should be >= 1
    same("chain.ttl", q)
  }

  it should "agree on a per-graph transitive closure (GRAPH ?g)" in {
    same("graphs.trig",
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?g ?x ?m { GRAPH ?g { ?x (foaf:mbox)+ ?m } }""".stripMargin)
  }

  it should "join in id space: only long columns under the materialization" in {
    val st = store("group_by.ttl")
    val op = parseOptimized(
      """PREFIX : <http://books.example/>
        |SELECT ?org ?lprice
        |{ ?org :affiliates ?auth . ?auth :writesBook ?book . ?book :price ?lprice }""".stripMargin)
    val df: DataFrame = materializedLeaves(st.rewrite(op)).head.df
    // the physical plan must contain the id-space joins; struct columns
    // appear only above them (late materialization)
    val plan = df.queryExecution.optimizedPlan.toString
    // the two intra-block joins run on long attributes (#nL = #nL) and
    // constant predicates push down as long equality onto the parquet scan
    val longJoins = raw"Join Inner, \(\w+#\d+L = \w+#\d+L\)".r
      .findAllIn(plan).size
    longJoins should be >= 2
    plan should include regex raw"\(p#\d+L = \d+\)"
  }

  // ----- constant-end zero-length paths (round-10 closure) -----

  it should "agree on ?/* paths with constant ends, including dict-absent terms" in {
    val P = "PREFIX : <http://example/>\n"
    // zero-or-one from a PRESENT constant (zero row + one-hop rows)
    same("property_paths.ttl", P + "SELECT ?x { :order :item? ?x }")
    // zero-or-one from a term ABSENT from the data (and the dict):
    // must still bind ?x = :ghost exactly once
    same("property_paths.ttl", P + "SELECT ?x { :ghost :item? ?x }")
    collect(store("property_paths.ttl").sparql(
      P + "SELECT ?x { :ghost :item? ?x }")) shouldBe
      Seq(Map("x" -> graft.rdf.Iri("http://example/ghost")))
    // constant OBJECT end
    same("property_paths.ttl", P + "SELECT ?x { ?x :item? :z1 }")
    same("property_paths.ttl", P + "SELECT ?x { ?x :item* :z1 }")
    // `*` from a constant: zero ∪ id-space plus closure
    same("property_paths.ttl", P + "SELECT ?x { :order :item* ?x }")
    same("property_paths.ttl", P + "SELECT ?x { :ghost :item* ?x }")
    // both-constant probes (zero-length equal / unequal, and `*`) —
    // ASK returns a plain boolean row, so compare directly
    def ask(q: String): Unit = {
      val viaDict = store("property_paths.ttl").sparql(P + q)
        .collect().map(_.getBoolean(0)).toSeq
      val viaTerms = TestSpark.fixture("property_paths.ttl").sparql(P + q)
        .collect().map(_.getBoolean(0)).toSeq
      withClue(q) { viaDict shouldBe viaTerms }
    }
    ask("ASK { :order :item? :order }")
    ask("ASK { :order :item? :z9 }")
    ask("ASK { :order :item* :z1 }")
  }

  it should "close a cyclic `*` from a constant with set semantics" in {
    import graft.rdf.Iri
    val E = "http://cyc.example/"
    val quads = graft.io.QuadsIO.fromQuads(spark, Seq(
      graft.rdf.Quad(Iri(E + "a"), Iri(E + "p"), Iri(E + "b"), None),
      graft.rdf.Quad(Iri(E + "b"), Iri(E + "p"), Iri(E + "c"), None),
      graft.rdf.Quad(Iri(E + "c"), Iri(E + "p"), Iri(E + "a"), None)))
    val dir = java.nio.file.Files.createTempDirectory("graft-dict-cyc").toString
    val st = DictStore.encode(quads, dir)
    val q = s"PREFIX : <$E>\nSELECT ?x { :a :p* ?x }"
    // the cycle re-reaches :a via p+ AND the zero branch binds it —
    // exactly one solution per node, never two for :a
    val got = collect(st.sparql(q))
    assertResult(got, collect(quads.sparql(q)))
    got.map(_("x")).toSet shouldBe
      Set(Iri(E + "a"), Iri(E + "b"), Iri(E + "c"))
    got should have size 3
  }

  it should "repeat constant-end zero-length per named graph under GRAPH ?g" in {
    val P = "PREFIX foaf: <http://xmlns.com/foaf/0.1/>\n" +
      "PREFIX ex: <http://example.org/>\n"
    same("graphs.trig", P + "SELECT ?g ?x { GRAPH ?g { ex:ghost foaf:mbox? ?x } }")
    same("graphs.trig", P + "SELECT ?g ?x { GRAPH ?g { ex:ghost (foaf:mbox)* ?x } }")
    // and the rewrite truly bypasses the standard fallback: no
    // ZeroLengthPath or ArbitraryLengthPath survives in the tree
    val st = store("graphs.trig")
    val op = parseOptimized(
      P + "SELECT ?g ?x { GRAPH ?g { ex:ghost (foaf:mbox)* ?x } }")
    countNodes(st.rewrite(op)) {
      case _: Algebra.ZeroLengthPath => true
      case _: Algebra.ArbitraryLengthPath => true
    } shouldBe 0
  }
}
