#!/usr/bin/env python3
"""Reachability scan over src/main: lists every definition that no root reaches.

Usage:
    python3 tools/reach.py                # scan the repository; exit 1 on an unlisted finding
    python3 tools/reach.py --loc [PATH...]  # code lines per Scala file and in total (default src/main)
    python3 tools/reach.py --self-test    # run the scan and the line count on fixtures

A definition is a member of a package, object, class or trait (def, val,
var, type, object, class, trait). Definitions local to a method body are
part of that method. The scan starts from the roots (ROOTS below, the
classes named in META-INF/services, every `main` under graft.tools, and
every Scala file of perfbench/, which is frozen and compiles against
src/main) and follows identifier references. A reached member reaches the
containers around it and the same-named members of the containers that
extend its own. A reached container reaches its header (constructor,
parents), its template-level statements and the members the JVM or Spark
call without naming them: overrides, implicits, symbolic operators,
apply/unapply/main, and every non-private member of a container that
extends a type defined outside src/main.

Names resolve without types, erring towards reaching too much:
  - a bare name reaches package members of that name and the members of
    enclosing containers, of what they extend, and of imported objects;
  - `C.name`, for an object or class named C, reaches C's `name`;
  - a name selected from any other value (`x.name`, `f(x).name`) reaches
    every class or trait member of that name;
  - an identifier inside a string literal reaches objects, classes and
    traits of that name (class names handed to Spark as strings).
Comments are stripped; string literals are lexed as strings, so a `//`
inside one hides no code. Import clauses reference nothing. Specs under
src/test are not roots.

A finding that is kept on purpose is listed in tools/reach_keep.txt as
`<qualified name> <reason>`; a kept definition is a root, with everything
it contains. The scan prints each listed keep with its reason, each
unlisted finding, and each stale entry (a name a root reaches, or that is
no longer defined); it exits 1 on any unlisted finding or stale entry.
"""
import bisect
import re
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
KEEP_FILE = REPO / "tools" / "reach_keep.txt"

# Qualified names reached by the declared queries (SparkEntry) and the command-line mains.
ROOTS = [
    "graft.SparkEntry.entry",
    "graft.SparkEntry.queries",
    "graft.SparkEntry.oracleSql",
    "graft.cli.Main.main",
    "graft.Bench.main",
    "graft.Verify.main",
    "graft.RecallGates.run",
    "graft.GraftExtensions",
]
TOOLS_PACKAGE = "graft.tools"

KEYWORDS = {
    "abstract", "case", "catch", "class", "def", "do", "else", "extends",
    "false", "final", "finally", "for", "forSome", "if", "implicit", "import",
    "lazy", "match", "new", "null", "object", "override", "package", "private",
    "protected", "return", "sealed", "super", "this", "throw", "trait", "try",
    "true", "type", "val", "var", "while", "with", "yield",
}
MODIFIERS = {"abstract", "final", "sealed", "implicit", "lazy", "override",
             "private", "protected", "case"}
DEF_KEYWORDS = {"def", "val", "var", "type", "object", "class", "trait"}
CONTAINER_KEYWORDS = {"object", "class", "trait"}
# Members the runtime calls without their name appearing in source.
RUNTIME_NAMES = {"apply", "unapply", "unapplySeq", "update", "main",
                  "toString", "equals", "hashCode", "compare", "finalize"}

IDENT = re.compile(r"[A-Za-z_$][A-Za-z0-9_$]*")
CHAR = re.compile(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")
NUMBER = re.compile(r"0[xX][0-9a-fA-F_]+[lL]?|[0-9][0-9_]*(\.[0-9][0-9_]*)?([eE][+-]?[0-9]+)?[lLfFdD]?")


class Tok:
    __slots__ = ("kind", "text", "line")

    def __init__(self, kind, text, line):
        self.kind = kind  # "id", "str" (an identifier inside a string literal) or "p" (punctuation)
        self.text = text
        self.line = line


def lex(src, comments=None):
    """Tokens of Scala source with comments removed. A string literal is
    kept as the identifiers it contains ("str" tokens); the code inside
    `${...}` of an interpolated string is lexed as code. The (start, end)
    offsets of each comment are appended to `comments` when given."""
    toks = []
    n = len(src)
    line_starts = [0] + [m.end() for m in re.finditer("\n", src)]

    def line_of(pos):
        return bisect.bisect_right(line_starts, pos)

    def add(kind, text, pos):
        toks.append(Tok(kind, text, line_of(pos)))

    def string_idents(lo, hi):
        for m in IDENT.finditer(src, lo, hi):
            add("str", m.group(0), m.start())

    def lex_string(i, interpolated):
        """src[i] opens a string literal; returns the index past it."""
        triple = src.startswith('"""', i)
        j = start = i + (3 if triple else 1)
        while j < n:
            c = src[j]
            if triple and src.startswith('"""', j):
                while src.startswith('""""', j):  # a run of quotes closes at its last three
                    j += 1
                string_idents(start, j)
                return j + 3
            if not triple and c == '"':
                string_idents(start, j)
                return j + 1
            if not triple and c == "\\":
                j += 2
            elif interpolated and src.startswith("${", j):
                string_idents(start, j)
                j = start = lex_code(j + 2, in_splice=True)
            elif interpolated and src.startswith("$$", j):
                j += 2
            elif interpolated and c == "$" and IDENT.match(src, j + 1):  # $name is code
                string_idents(start, j)
                m = IDENT.match(src, j + 1)
                add("id", m.group(0), m.start())
                j = start = m.end()
            else:
                j += 1
        string_idents(start, n)
        return n

    def lex_code(i, in_splice=False):
        """Lexes code from i; inside a `${...}` splice, stops past its closing brace."""
        depth = 0
        while i < n:
            c = src[i]
            if c in " \t\r\n\f":
                i += 1
            elif src.startswith("//", i):
                start, i = i, src.find("\n", i)
                i = n if i < 0 else i
                if comments is not None:
                    comments.append((start, i))
            elif src.startswith("/*", i):
                start, nest, i = i, 1, i + 2
                while i < n and nest:
                    if src.startswith("/*", i):
                        nest, i = nest + 1, i + 2
                    elif src.startswith("*/", i):
                        nest, i = nest - 1, i + 2
                    else:
                        i += 1
                if comments is not None:
                    comments.append((start, i))
            elif c == '"':
                i = lex_string(i, interpolated=False)
            elif c == "`":
                end = src.find("`", i + 1)
                end = n if end < 0 else end
                add("id", src[i + 1:end], i)
                i = end + 1
            elif c == "'":
                m = CHAR.match(src, i)
                i = m.end() if m else i + 1  # a char literal, or a symbol literal's quote
            elif c.isalpha() or c in "_$":
                m = IDENT.match(src, i)
                if m.end() < n and src[m.end()] == '"':  # s"...", f"...", raw"..." and custom interpolators
                    i = lex_string(m.end(), interpolated=True)
                else:
                    add("id", m.group(0), i)
                    i = m.end()
            elif c.isdigit():
                i = max(NUMBER.match(src, i).end(), i + 1)
            else:
                if in_splice and c == "}":
                    if depth == 0:
                        return i + 1
                    depth -= 1
                elif in_splice and c == "{":
                    depth += 1
                add("p", c, i)
                i += 1
        return n

    lex_code(0)
    return toks


def code_lines(src):
    """Lines holding a character that is neither whitespace nor part of a
    comment; comments are found by `lex`, so a `//` inside a string
    literal starts none."""
    comments = []
    lex(src, comments)
    chars = list(src)
    for lo, hi in comments:
        for k in range(lo, hi):
            if chars[k] != "\n":
                chars[k] = " "
    return sum(1 for line in "".join(chars).split("\n") if line.strip())


class FileCtx:
    """What a file imports: `import P._` makes the members of P visible,
    `import P.x` the member x of P."""

    def __init__(self, path):
        self.path = path
        self.wild = set()   # P of each `import P._`
        self.named = set()  # P.x of each `import P.x` / `import P.{x, y}`


class Node:
    """One definition: a package member or a member of a template body."""

    def __init__(self, qual, name, kind, parent, ctx, line):
        self.qual = qual
        self.name = name
        self.kind = kind
        self.parent = parent
        self.ctx = ctx
        self.path = ctx.path
        self.line = line
        self.refs = []          # references: (name, qualifier or None, in a string)
        self.always = False     # reached whenever its container is
        self.parent_names = []  # identifiers of the extends clause
        self.children = []
        self.private = False
        self.instance = False   # a class or trait (or the companion of one)


def skip_balanced(toks, i, open_c, close_c):
    """toks[i] is `open_c`; returns the index past its matching `close_c`."""
    depth = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "p":
            if t.text == open_c:
                depth += 1
            elif t.text == close_c:
                depth -= 1
                if depth == 0:
                    return i + 1
        i += 1
    return i


def is_p(toks, i, c):
    return i < len(toks) and toks[i].kind == "p" and toks[i].text == c


def is_id(toks, i, word=None):
    return i < len(toks) and toks[i].kind == "id" and (word is None or toks[i].text == word)


class Parser:
    """Splits a file's tokens into definitions (Nodes) and the reference
    tokens each one owns."""

    def __init__(self, index, ctx, toks):
        self.index = index
        self.ctx = ctx
        self.toks = toks

    def add_refs(self, owner, lo, hi):
        toks = self.toks
        k = lo
        while k < hi:
            t = toks[k]
            if t.kind == "id" and t.text == "import":
                k = self.read_import(k + 1, hi)
                continue
            if t.kind == "id" and t.text not in KEYWORDS and not (k > 0 and toks[k - 1].kind == "id" and toks[k - 1].text in DEF_KEYWORDS):
                qual = None
                if k >= 2 and is_p(toks, k - 1, "."):  # a selection: `C.name`, `x.name`, `f(x).name`
                    qual = toks[k - 2].text if toks[k - 2].kind == "id" else "."
                owner.refs.append((t.text, qual, False))
            elif t.kind == "str":
                owner.refs.append((t.text, None, True))
            k += 1

    def read_import(self, k, hi):
        """Records the import clause whose first path token is at k in the
        file's context; returns the index past the clause."""
        toks = self.toks
        path = []
        while k < hi:
            if is_p(toks, k, "{"):
                close = skip_balanced(toks, k, "{", "}")
                for j in range(k + 1, close - 1):
                    if toks[j].text == "_":
                        self.ctx.wild.add(".".join(path))
                    elif toks[j].kind == "id" and not is_p(toks, j - 1, ">"):  # not the new name of `a => b`
                        self.ctx.named.add(".".join(path + [toks[j].text]))
                return close
            if toks[k].text == "_" and is_p(toks, k - 1, "."):
                self.ctx.wild.add(".".join(path))
                return k + 1
            if toks[k].kind == "id" and (not path or is_p(toks, k - 1, ".")):
                path.append(toks[k].text)
                k += 1
            elif is_p(toks, k, ".") and path:
                k += 1
            else:
                break
        if path:
            self.ctx.named.add(".".join(path))
        return k

    def parse_package_header(self):
        """Returns (package name, index past the package clauses)."""
        toks, i, parts = self.toks, 0, []
        while is_id(toks, i, "package") and not is_id(toks, i + 1, "object"):
            parts.append(toks[i + 1].text)
            i += 2
            while is_p(toks, i, ".") and is_id(toks, i + 1):
                parts.append(toks[i + 1].text)
                i += 2
        return ".".join(parts), i

    def member_start(self, i, hi):
        """If a member definition starts at i, returns (kind, index of the
        keyword, modifiers); otherwise None."""
        toks, j, mods = self.toks, i, set()
        while j < hi:
            t = toks[j]
            if is_p(toks, j, "@"):  # annotation, with optional arguments
                j += 2
                while is_p(toks, j, "."):
                    j += 2
                if is_p(toks, j, "("):
                    j = skip_balanced(toks, j, "(", ")")
                continue
            if t.kind == "id" and t.text in MODIFIERS:
                if t.text == "case" and not (is_id(toks, j + 1, "class") or is_id(toks, j + 1, "object")):
                    return None
                mods.add(t.text)
                j += 1
                if is_p(toks, j, "["):
                    j = skip_balanced(toks, j, "[", "]")
                continue
            if t.kind == "id" and t.text in DEF_KEYWORDS:
                return t.text, j, mods
            if t.kind == "id" and t.text == "package" and is_id(toks, j + 1, "object"):
                return "object", j + 1, mods
            return None
        return None

    def parse_template(self, container, lo, hi, qual_prefix):
        """Members of the template body toks[lo:hi]."""
        toks = self.toks
        i = lo
        members = []  # (kind, kw index, mods, start)
        while i < hi:
            t = toks[i]
            if t.kind == "p" and t.text in "({[":
                i = skip_balanced(toks, i, t.text, {"(": ")", "{": "}", "[": "]"}[t.text])
                continue
            if t.kind == "id" and (t.text in DEF_KEYWORDS or t.text in MODIFIERS or t.text == "package") \
                    and (i == lo or not is_p(toks, i - 1, ".")):
                ms = self.member_start(i, hi)
                if ms and (i == lo or self.at_statement_start(i)):
                    members.append((ms[0], ms[1], ms[2], i))
                    i = ms[1] + 1
                    continue
            if is_p(toks, i, "@") and (i == lo or self.at_statement_start(i)):
                ms = self.member_start(i, hi)
                if ms:
                    members.append((ms[0], ms[1], ms[2], i))
                    i = ms[1] + 1
                    continue
            i += 1
        # Loose tokens before the first member belong to the container.
        first = members[0][3] if members else hi
        self.add_refs(container, lo, first)
        for m, (kind, kw, mods, start) in enumerate(members):
            end = members[m + 1][3] if m + 1 < len(members) else hi
            self.parse_member(container, kind, kw, mods, start, end, qual_prefix)

    def at_statement_start(self, i):
        prev = self.toks[i - 1]
        return (prev.kind == "p" and prev.text in "{};)]") or prev.line != self.toks[i].line

    def parse_member(self, container, kind, kw, mods, start, end, qual_prefix):
        toks = self.toks
        j = kw + 1
        names = []
        if kind in ("val", "var") and is_p(toks, j, "("):
            close = skip_balanced(toks, j, "(", ")")
            names = [t.text for t in toks[j + 1:close - 1] if t.kind == "id" and t.text not in KEYWORDS]
            j = close
        elif j < end and toks[j].kind == "id":
            names = [toks[j].text]
            j += 1
        elif j < end and toks[j].kind == "p" and kind == "def":  # operator names: def +(...)
            names = [toks[j].text]
            j += 1
        if not names:
            self.add_refs(container, start, end)
            return
        name = names[0]
        qual = f"{qual_prefix}.{name}" if qual_prefix else name
        node = self.index.node(qual, name, kind, container, self.ctx, toks[kw].line)
        for extra in names[1:]:
            self.index.alias(extra, node)
        node.private = node.private or "private" in mods
        if mods & {"override", "implicit"} or name in RUNTIME_NAMES or not IDENT.fullmatch(name):
            node.always = True
        if kind not in CONTAINER_KEYWORDS:
            self.add_refs(node, start, end)
            return
        # A container: header up to the template body, then its members.
        body = None
        k = j
        parents = []
        while k < end:
            t = toks[k]
            if t.kind == "p" and t.text in "([":
                k = skip_balanced(toks, k, t.text, ")" if t.text == "(" else "]")
                continue
            if t.kind == "p" and t.text == "{":
                body = k
                break
            if t.kind == "id" and t.text in ("extends", "with"):
                k += 1
                if is_p(toks, k, "("):  # extends (A => B)
                    parents += [x.text for x in toks[k:skip_balanced(toks, k, "(", ")")] if x.kind == "id"]
                    k = skip_balanced(toks, k, "(", ")")
                    continue
                dotted = []
                while k < end and (toks[k].kind == "id" or is_p(toks, k, ".")):
                    if toks[k].kind == "id" and toks[k].text not in ("extends", "with"):
                        dotted.append(toks[k].text)
                    elif toks[k].kind == "id":
                        break
                    k += 1
                if dotted:
                    parents.append(dotted[-1])
                continue
            if t.kind == "id" and toks[k].line != toks[k - 1].line and k > j and t.text not in ("extends", "with"):
                break  # a body-less definition ended at the previous line
            if t.kind == "p" and t.text in ";}":
                break
            k += 1
        node.parent_names += parents
        if body is None:
            self.add_refs(node, start, end)
            return
        close = skip_balanced(toks, body, "{", "}")
        self.add_refs(node, start, body)
        self.index.containers.append(node)
        self.parse_template(node, body + 1, close - 1, qual)
        self.add_refs(node, close, end)


class Index:
    def __init__(self):
        self.nodes = {}           # qual -> Node
        self.by_name = {}         # simple name -> [Node]
        self.containers = []

    def node(self, qual, name, kind, parent, ctx, line):
        n = self.nodes.get(qual)
        if n is None:
            n = Node(qual, name, kind, parent, ctx, line)
            self.nodes[qual] = n
            self.by_name.setdefault(name, []).append(n)
            if parent is not None:
                parent.children.append(n)
        n.instance = n.instance or kind in ("class", "trait")
        return n

    def alias(self, name, node):
        self.by_name.setdefault(name, []).append(node)

    def supertypes(self, n):
        """n and every container it extends, by simple name, transitively."""
        return self.closure(n, lambda c: [d for p in c.parent_names for d in self.by_name.get(p, [])
                                          if d.kind in CONTAINER_KEYWORDS])

    def subtypes(self, n):
        """n and every container that extends it, transitively."""
        return self.closure(n, lambda c: [d for d in self.containers if c.name in d.parent_names])

    @staticmethod
    def closure(n, step):
        out, work = [], [n]
        while work:
            c = work.pop()
            if c not in out:
                out.append(c)
                work += step(c)
        return out


def scala_files(d):
    return sorted(Path(d).rglob("*.scala")) if Path(d).is_dir() else []


def parse_file(index, path):
    ctx = FileCtx(path)
    toks = lex(path.read_text(encoding="utf-8"))
    parser = Parser(index, ctx, toks)
    file_node = Node("", "", "file", None, ctx, 1)
    pkg, lo = parser.parse_package_header()
    parser.parse_template(file_node, lo, len(toks), pkg)
    for c in file_node.children:  # package members have no container node
        c.parent = None


def build_index(main_dir):
    index = Index()
    for path in scala_files(main_dir):
        parse_file(index, path)
    defined = set(index.by_name)
    # A container extending a type defined outside src/main may have
    # members that the framework calls: they implement its abstract members.
    for n in index.containers:
        if any(p not in defined for p in n.parent_names if p not in ("AnyRef", "Serializable", "Product")):
            for c in n.children:
                if not c.private and c.kind != "type":
                    c.always = True
    return index


def scope_of(index, n):
    """Quals of the containers whose members a bare name in n can denote:
    n's enclosing containers and everything they extend."""
    quals = set()
    c = n
    while c is not None:
        if c.kind in CONTAINER_KEYWORDS:
            quals.update(d.qual for d in index.supertypes(c))
        c = c.parent
    return quals


def imported(ctx, c):
    pq = c.parent.qual
    for p in ctx.wild:
        if pq == p or pq.endswith("." + p):
            return True
    for p in ctx.named:
        if c.qual == p or c.qual.endswith("." + p):
            return True
    return False


def resolve(index, name, qual, in_string, scope, ctx):
    """The definitions a reference can denote:
    - a bare name: a package member, a member of a container in scope or
      an imported member;
    - `C.name` for a container name C: a member of C or of a type C extends;
    - a name selected from any other value (`x.name`, `f(x).name`): a
      member of a class or trait (members of subtypes follow in `reach`);
    - a name inside a string: an object, class or trait."""
    cands = index.by_name.get(name, [])
    if in_string:
        return [c for c in cands if c.kind in CONTAINER_KEYWORDS]
    if qual is None:
        return [c for c in cands if c.parent is None or c.parent.qual in scope or imported(ctx, c)]
    named = [d.qual for c in index.by_name.get(qual, []) if c.kind in CONTAINER_KEYWORDS
             for d in index.supertypes(c)]
    on_container = [c for c in cands if c.parent is not None and c.parent.qual in named]
    return on_container or [c for c in cands if c.parent is not None and c.parent.instance]


def reach(index, root_quals, holders):
    seen = set()
    work = []

    def visit(n):
        if n.qual not in seen:
            seen.add(n.qual)
            work.append(n)

    def follow(n):
        scope = scope_of(index, n)
        for name, qual, in_string in n.refs:
            for c in resolve(index, name, qual, in_string, scope, n.ctx):
                visit(c)

    for q in root_quals:
        visit(index.nodes[q])
    for h in holders:
        follow(h)
    while work:
        n = work.pop()
        if n.parent is not None:
            visit(n.parent)
            for sub in index.subtypes(n.parent)[1:]:  # implementations of a reached member
                for c in sub.children:
                    if c.name == n.name:
                        visit(c)
        for c in n.children:
            if c.always:
                visit(c)
        follow(n)
    return seen


def service_classes(resources_dir):
    out = []
    services = Path(resources_dir) / "META-INF" / "services"
    if services.is_dir():
        for f in sorted(services.iterdir()):
            for line in f.read_text(encoding="utf-8").splitlines():
                line = line.split("#", 1)[0].strip()
                if line:
                    out.append((f, line))
    return out


def scan(tree, roots=ROOTS, tools_package=TOOLS_PACKAGE, frozen_dirs=("perfbench",), keep=()):
    """Returns (index, [unreached nodes], [missing roots], {kept qual: reached
    from the roots alone}). Kept definitions, with everything they contain,
    are roots too."""
    tree = Path(tree)
    index = build_index(tree / "src" / "main" / "scala")
    missing = [r for r in roots if r not in index.nodes]
    root_quals = [r for r in roots if r in index.nodes]
    for f, cls in service_classes(tree / "src" / "main" / "resources"):
        if cls in index.nodes:
            root_quals.append(cls)
        else:
            missing.append(f"{cls} (named in {f.name})")
    prefix = tools_package + "."
    for q, n in index.nodes.items():
        if q.startswith(prefix) and n.name == "main" and n.parent is not None \
                and n.parent.qual.count(".") == tools_package.count(".") + 1:
            root_quals.append(q)
    # A frozen tree's definitions are all live: every reference they make is a root.
    holders = []
    for d in frozen_dirs:
        for path in scala_files(tree / d):
            frozen = Index()
            parse_file(frozen, path)
            holders += frozen.nodes.values()
    seen = reach(index, root_quals, holders)
    kept = {q: q in seen for q in keep if q in index.nodes}
    kept_quals = [d.qual for q in kept for d in Index.closure(index.nodes[q], lambda n: n.children)]
    if kept_quals:
        seen = reach(index, root_quals + kept_quals, holders)
    unreached = [n for q, n in index.nodes.items()
                 if q not in seen and (n.parent is None or n.parent.qual in seen)]
    unreached.sort(key=lambda n: (str(n.path), n.line))
    return index, unreached, missing, kept


def read_keep(path):
    keep = {}
    if path.is_file():
        for raw in path.read_text(encoding="utf-8").splitlines():
            line = raw.strip()
            if not line or line.startswith("#"):
                continue
            parts = line.split(None, 1)
            keep[parts[0]] = parts[1] if len(parts) > 1 else ""
    return keep


def main_scan():
    keep = read_keep(KEEP_FILE)
    index, unreached, missing, kept = scan(REPO, keep=keep)
    keep_file = KEEP_FILE.relative_to(REPO)
    bad = 0
    for r in missing:
        print(f"missing root: {r}")
        bad += 1
    for q, reason in keep.items():
        if q not in kept:
            print(f"STALE keep {q}: not defined; remove it from {keep_file}")
            bad += 1
        elif kept[q]:
            print(f"STALE keep {q}: a root reaches it; remove it from {keep_file}")
            bad += 1
        elif not reason:
            print(f"keep {q} has no reason in {keep_file}")
            bad += 1
        else:
            n = index.nodes[q]
            print(f"keep {q} ({n.path.relative_to(REPO)}:{n.line}): {reason}")
    for n in unreached:
        print(f"UNREACHED {n.kind} {n.qual} ({n.path.relative_to(REPO)}:{n.line})")
        bad += 1
    return 1 if bad else 0


def main_loc(paths):
    """Prints the code lines of each Scala file under `paths` (files or
    directories; default src/main) and their total."""
    total = 0
    for arg in paths or [str(REPO / "src" / "main")]:
        p = Path(arg).resolve()
        for f in (scala_files(p) if p.is_dir() else [p]):
            n = code_lines(f.read_text(encoding="utf-8"))
            total += n
            print(f"{n:7d} {f.relative_to(REPO) if f.is_relative_to(REPO) else f}")
    print(f"{total:7d} total")
    return 0


FIXTURE = {
    "src/main/scala/app/Entry.scala": '''package app

import org.apache.spark.sql.DataFrame

/** Entry point. Mentions OnlyInComment.helper in a doc comment. */
object Entry {
  private def splice: String = "x"
  def main(args: Array[String]): Unit = {
    val sql = "select a // not a comment"; Used.viaString()
    // Ghost.run() is named only in a line comment
    /* and Ghost.run() in a /* nested */ block comment */
    val q = s"${Used.interpolated()} // ${"nested"} $splice"
    val c = '"'; Used.afterChar()
    Used.direct(Wide.run(1))
  }
}
''',
    "src/main/scala/app/Used.scala": '''package app

object Used {
  def viaString(): Unit = ()
  def interpolated(): Int = 1
  def afterChar(): Unit = ()
  def direct(x: Int): Unit = ()
  def specOnly(): Unit = ()
  private def deadHelper(): Unit = ()
}

object Wide { def run(x: Int): Int = x }
object Narrow { def run(x: Int): Int = x }

object OnlyInComment { def helper(): Unit = () }
object Ghost { def run(): Unit = () }

class Sink extends org.example.DataSourceRegister {
  override def shortName(): String = "sink"
  def createRelation(): Unit = ()
  private def unused(): Unit = ()
}
''',
    "src/main/resources/META-INF/services/org.example.DataSourceRegister": "app.Sink\n",
    "src/test/scala/app/UsedSpec.scala": '''package app
class UsedSpec { Used.specOnly(); Narrow.run(2) }
''',
}


# Eight code lines: package, object, url, sep (with x), the three lines of s, the brace.
LOC_FIXTURE = '''package app

// a line comment
/** A doc comment
  * over two lines. */
object Loc {
  val url = "http://example.com" // a trailing comment

  val sep = "//"; /* a block */ val x = 1
  /* a block comment
     over two lines */
  val s = """
    |// inside a string
    |""".stripMargin
}
'''


def self_test():
    with tempfile.TemporaryDirectory() as d:
        for rel, text in FIXTURE.items():
            p = Path(d) / rel
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_text(text, encoding="utf-8")
        index, unreached, missing, _ = scan(d, roots=["app.Entry.main"], tools_package="app.tools",
                                            frozen_dirs=())
        got = {n.qual for n in unreached}
        want = {
            "app.Used.specOnly",         # reached only from a spec
            "app.Used.deadHelper",
            "app.Narrow",                # qualified call sites pick Wide.run, not Narrow.run
            "app.OnlyInComment",         # named only in a comment
            "app.Ghost",
            "app.Sink.unused",           # private helper of a services class
        }
        checks = [
            ("no missing roots", not missing),
            ("findings", got == want),
            ("`//` inside a string hides no code", "app.Used.viaString" not in got),
            ("interpolation is code", "app.Used.interpolated" not in got and "app.Entry.splice" not in got),
            ("a char literal '\"' opens no string", "app.Used.afterChar" not in got),
            ("services class reached", "app.Sink" not in got and "app.Sink.createRelation" not in got),
            ("code lines: comments and blanks stripped, `//` in strings kept", code_lines(LOC_FIXTURE) == 8),
        ]
        failed = [name for name, ok in checks if not ok]
        for name, ok in checks:
            print(f"{'ok  ' if ok else 'FAIL'} {name}")
        if failed:
            print(f"findings: {sorted(got)}\nexpected: {sorted(want)}")
            return 1
        return 0


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-test"]:
        sys.exit(self_test())
    if sys.argv[1:2] == ["--loc"]:
        sys.exit(main_loc(sys.argv[2:]))
    sys.exit(main_scan())
