package graft

import scala.collection.mutable

import scala.reflect.internal.util.SourceFile
import scala.tools.nsc.{Global, Settings}
import scala.tools.nsc.reporters.StoreReporter

/** What rules 7 and 9 of [[SourceDisciplineSpec]] need from the
  * compiler. One typer run (`-Ystop-after:typer` on the test JVM's
  * classpath) reads the sources; the symbols it resolves are reduced
  * to plain facts and the `Global` is dropped, so its heap can go.
  *
  * A node is a member of a top-level type of the `main` sources (a
  * def, a lazy val, a nested class or object) or the type itself. The
  * type's node stands for its constructors, strict vals and body
  * statements: constructing the class or touching the object runs
  * them all. Whatever a nested or local definition references is
  * charged to the member enclosing it. The `roots` sources are one
  * node, [[Roots]].
  */
object TypedSource {

  /** `file` is the source's name; `owner` the simple name of its
    * top-level type (the type's own node has `name` ""). `checked`:
    * a public def the source declares on its top-level type, without
    * `override`.
    */
  final case class Member(file: String, owner: String, name: String, checked: Boolean)

  /** Parameter `param`, number `index` (1-based over all lists), of
    * member `method` has a default.
    */
  final case class Default(method: Int, index: Int, param: String)

  /** A call of member `method` applying its first `covered` parameters,
    * of which it left those in `omitted` to their defaults.
    */
  final case class Call(method: Int, covered: Int, omitted: Set[Int])

  /** `methods` counts the defs the `main` sources declare; `edges` maps
    * a node to the nodes it reaches; `calls` are every call, in both
    * source sets, of a member with defaults.
    */
  final case class Facts(errors: Seq[String], methods: Int, members: IndexedSeq[Member],
      edges: Map[Int, Set[Int]], calls: Seq[Call], defaults: Seq[Default])

  val Roots: Int = -1

  def apply(main: Seq[SourceFile], roots: Seq[SourceFile]): Facts = {
    val settings = new Settings(e => throw new IllegalArgumentException(e))
    settings.usejavacp.value = true
    settings.stopAfter.value = List("typer")
    settings.nowarn.value = true
    settings.YdisableFlatCpCaching.value = true
    val reporter = new StoreReporter(settings)
    val global = new Global(settings, reporter)
    import global._
    val run = new Run
    run.compileSources((main ++ roots).toList)

    val mainFiles = main.map(_.file.path).toSet
    val units = run.units.toSeq
    def norm(s: Symbol): Symbol = if (s.isModule) s.moduleClass else s
    def isTop(s: Symbol) = s != NoSymbol && s.owner.isPackageClass
    // top-level types of the main sources, with their file
    val topFile: Map[Symbol, String] = units.filter(u => mainFiles(u.source.file.path))
      .flatMap(u => u.body.collect {
        case d: ImplDef if isTop(d.symbol) => norm(d.symbol) -> u.source.file.path
      }).toMap
    val ids = mutable.LinkedHashMap.empty[Symbol, Int]
    def key(sym: Symbol): Option[Int] = {
      var s = norm(sym)
      while (s != NoSymbol && !isTop(s) && !isTop(s.owner)) s = norm(s.owner)
      if (s == NoSymbol) None
      else {
        val top = if (isTop(s)) s else s.owner
        val node =
          if (isTop(s) || s.isConstructor || s.isLocalDummy || s.isParamAccessor ||
            (s.isTerm && !s.isMethod && !s.isLazy) || (s.isAccessor && !s.isLazy)) top
          else s
        topFile.get(top).map(_ => ids.getOrElseUpdate(node, ids.size))
      }
    }

    val edges = mutable.Map.empty[Int, Set[Int]]
    def edge(from: Option[Int], to: Option[Int]): Unit =
      for (f <- from; t <- to if f != t) edges(f) = edges.getOrElse(f, Set.empty) + t
    val calls = mutable.ArrayBuffer.empty[Call]
    var methods = 0
    // N when a call argument evaluates the default getter `m$default$N`,
    // directly or through the synthetic val a named-argument call binds
    val artifact = mutable.Map.empty[Symbol, Tree]
    def getterIndex(m: Symbol, arg: Tree): Option[Int] = {
      val s = treeInfo.dissectCore(arg).symbol
      val getter =
        if (s != null && s.isArtifact) artifact.get(s).map(treeInfo.dissectCore(_).symbol)
        else Option(s)
      val prefix = m.name.toString + "$default$"
      getter.filter(g => g != null && g.owner == m.owner && g.name.toString.startsWith(prefix))
        .map(_.name.toString.stripPrefix(prefix).toInt)
    }
    def withDefaults(m: Symbol) = m.isMethod && m.paramss.exists(_.exists(_.hasDefault))
    def argLists(t: Tree): List[List[Tree]] = t match {
      case Apply(f, args) => argLists(f) :+ args
      case TypeApply(f, _) => argLists(f)
      case _ => Nil
    }

    for (unit <- units) {
      val inMain = mainFiles(unit.source.file.path)
      new Traverser {
        def here: Option[Int] = if (inMain) key(currentOwner) else Some(Roots)
        override def traverse(tree: Tree): Unit = {
          if (inMain && tree.isInstanceOf[MemberDef]) key(tree.symbol)
          tree match {
            case _: RefTree if tree.symbol != null => edge(here, key(tree.symbol))
            case Literal(Constant(t: Type)) => edge(here, key(t.typeSymbol))
            case _ =>
          }
          tree match {
            case v: ValDef if v.symbol.isArtifact => artifact(v.symbol) = v.rhs
            case d: DefDef if inMain =>
              val s = d.symbol
              if (!s.isConstructor && !s.isSynthetic && !s.isAccessor) methods += 1
              // an override runs where its graft original is called; an
              // override of a library method, once its class is reached
              for (o <- s.allOverriddenSymbols)
                if (key(o).isDefined) edge(key(o), key(s)) else edge(key(s.owner), key(s))
            case c: ImplDef if inMain =>
              // constructing a type runs its base types' bodies
              norm(c.symbol).baseClasses.tail.foreach(b => edge(key(c.symbol), key(b)))
            case a: Apply =>
              val m = treeInfo.dissectCore(a).symbol
              if (m != null && withDefaults(m)) key(m).foreach { id =>
                val lists = argLists(a)
                calls += Call(id, m.paramss.take(lists.size).map(_.size).sum,
                  lists.flatten.flatMap(getterIndex(m, _)).toSet)
              }
            case _ =>
          }
          super.traverse(tree)
        }
      }.traverse(unit.body)
    }

    val defaults = ids.keys.toSeq.filter(s => topFile.contains(s.owner) && withDefaults(s) &&
        !s.isSynthetic && !s.isOverride).flatMap { m =>
      m.paramss.filterNot(_.headOption.exists(_.isImplicit)).flatten.filter(_.hasDefault)
        .map(p => Default(ids(m), m.paramss.flatten.indexOf(p) + 1, p.name.decoded))
    }
    val members = ids.keys.toIndexedSeq.map { s =>
      val top = if (isTop(s)) s else s.owner
      Member(topFile(top), top.name.decoded, if (s == top) "" else s.name.decoded,
        s != top && s.isMethod && !s.isConstructor && !s.isAccessor && !s.isSynthetic &&
          !s.isArtifact && !s.isOverride && s.isPublic)
    }
    val errors = reporter.infos.toSeq.filter(_.severity == reporter.ERROR)
      .map(i => s"${i.pos.source.file.path}:${i.pos.line}: ${i.msg}")
    Facts(errors, methods, members, edges.toMap, calls.toSeq, defaults)
  }
}
