#!/usr/bin/env python3
"""Census of the defaulted parameters of the engine's `def`s.

Lists every parameter with a default value on a `def` under `src/main`,
together with the values its callers in `src/main`, `src/test` and
`perfbench/src` pass. A call that omits the parameter contributes the
default. An argument that just forwards a parameter of the enclosing def
(`iters = iters`, or a bare `iters` in that position) takes every value
that parameter takes. A name bound to a literal by a `val` (`val LloydIters:
Int = 2`) reads as that literal, so a call that spells out the default
reads as the default.

A parameter is *single-valued* when its only value is its default: no
code ever runs it with anything else. Those should be constants, so
`--check` exits 1 on any single-valued parameter that is not on
`ALLOWLIST` below (each entry says why the knob stays).

The scan is lexical, not a compiler: calls are matched by name (and by
qualifier where one names an object), overloads by the arguments a call
can bind. A call through a function value, an eta-expansion or a
reflective path is not seen. So a second value found here is real, but a
single value is a lead to check, not a proof.

Usage, from the repo root:
    python3 tools/option_census.py            # summary + single-valued list
    python3 tools/option_census.py --all      # every defaulted parameter
    python3 tools/option_census.py --check    # exit 1 on an unlisted single
"""
import argparse
import collections
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = ["src/main"]
CALLERS = ["src/main", "src/test", "perfbench/src"]

# Single-valued parameters that stay parameters, keyed `Owner.def.param`
# (`*` matches any owner or def).
ALLOWLIST = {
    # deployment settings: where a job reads and writes, how it triggers
    "*.*.bootstrap": "Kafka bootstrap servers: a deployment setting",
    "*.*.startingOffsets": "Kafka option: a deployment setting",
    "*.*.maxOffsetsPerTrigger": "Kafka option: a deployment setting",
    "*.*.trigger": "stream trigger: a deployment setting",
    "*.*.checkpoint": "checkpoint location: a deployment setting",
    "*.*.appName": "Spark app name: a deployment setting",
    "*.*.master": "Spark master: a deployment setting",
    "*.*.topic": "Kafka topic: a deployment setting",
    "*.*.outputMode": "stream output mode: a deployment setting",
    "Sources.kafka.extraOptions": "Kafka options: a deployment setting",
    # vector model sizes and search widths: specs and catalog queries set
    # second values on the sibling entry points of the same index
    "Similarity.*.dims": "vector width: set per corpus",
    "Similarity.*.numSub": "PQ model size: specs vary it on sibling searches",
    "Similarity.*.codesPerSub": "PQ model size: specs vary it on sibling searches",
    "Similarity.*.numCells": "IVF model size (0 = the sqrt-N rule): varied on siblings",
    "Similarity.*.nProbe": "IVF search width: varied on sibling searches",
    "Similarity.*.k": "result size: varied on sibling searches",
    # test hooks
    "*.*.onRound": "test hook: specs observe the rounds through it",
    # prescribed at scale
    "Similarity.semanticDedupPrefiltered.maxHamming":
        "its scaladoc prescribes an explicit value at 1e12 pairs",
}

# ---------------------------------------------------------------- lexing


def mask(src):
    """`src` with comments blanked and string/char literal bodies replaced
    by `_`, newlines and offsets kept, so brackets can be matched on it."""
    out = list(src)
    i, n = 0, len(src)

    def blank(a, b, keep_quotes=False):
        for j in range(a, b):
            if out[j] != "\n":
                out[j] = " " if not keep_quotes else "_"

    def interpolated(q):
        return q > 0 and (src[q - 1].isalnum() or src[q - 1] == "_")

    def blank_string(a, b, interp):
        """Blank a string body, keeping (masked) `${...}` splices of an
        interpolated string: calls inside them are calls too."""
        j = a
        while j < b:
            if interp and src.startswith("${", j):
                e = min(interp_end(src, j + 2), b)
                inner = mask(src[j + 2:e])
                out[j + 2:e] = list(inner)
                j = e + 1
            else:
                if out[j] != "\n":
                    out[j] = "_"
                j += 1

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            blank(i, j)
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            blank(i, j)
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j
            while j + 3 < n and src[j + 3] == '"':
                j += 1
            blank_string(i + 3, j, interpolated(i))
            i = j + 3
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                if src.startswith("${", j) and interpolated(i):
                    j = interp_end(src, j + 2)
                j += 2 if src[j] == "\\" else 1
            blank_string(i + 1, j, interpolated(i))
            i = j + 1
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2 if src[i + 1] == "\\" else i + 1)
            if src[i + 1] == "\\" and src[i + 2] == "'":
                j = src.find("'", i + 3)
            blank(i + 1, j, keep_quotes=True)
            i = j + 1
        else:
            i += 1
    return "".join(out)


def interp_end(src, i):
    """Index of the `}` closing a `${` splice whose body starts at `i`,
    skipping string literals nested in it."""
    depth, n = 1, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            i = n if j < 0 else j + 3
            continue
        c = src[i]
        if c == '"':
            i += 1
            while i < n and src[i] != '"':
                if src.startswith("${", i):
                    i = interp_end(src, i + 2)
                i += 2 if src[i] == "\\" else 1
        elif c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return n


OPEN, CLOSE = "([{", ")]}"


def match(m, i):
    """Index just past the bracket group opening at `m[i]`."""
    depth = 0
    for j in range(i, len(m)):
        if m[j] in OPEN:
            depth += 1
        elif m[j] in CLOSE:
            depth -= 1
            if depth == 0:
                return j + 1
    return len(m)


def split_top(m, a, b, sep=","):
    """Spans of `m[a:b]` split at top-level `sep`."""
    spans, depth, start = [], 0, a
    for j in range(a, b):
        if m[j] in OPEN:
            depth += 1
        elif m[j] in CLOSE:
            depth -= 1
        elif m[j] == sep and depth == 0:
            spans.append((start, j))
            start = j + 1
    spans.append((start, b))
    return [(x, y) for x, y in spans if m[x:y].strip()]


def top_eq(m, a, b):
    """Offset of the first top-level `=` in `m[a:b]` that is an
    assignment (not `==`, `=>`, `<=`, `>=`, `!=`), or -1."""
    depth = 0
    for j in range(a, b):
        c = m[j]
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
        elif c == "=" and depth == 0:
            prev = m[j - 1] if j > a else " "
            nxt = m[j + 1] if j + 1 < b else " "
            if nxt not in "=>" and prev not in "=<>!":
                return j
    return -1


def skip_ws(m, i):
    while i < len(m) and m[i].isspace():
        i += 1
    return i


def norm(s):
    return re.sub(r"\s+", " ", s).strip()


# ---------------------------------------------------------------- model

Param = collections.namedtuple("Param", "name default vararg")


class Def:
    def __init__(self, path, line, owner, name, lists, implicit, start, body_end):
        self.path, self.line, self.owner, self.name = path, line, owner, name
        self.lists = lists          # [[Param]]
        self.implicit = implicit    # [bool]: list i is an implicit/using list
        self.start, self.body_end = start, body_end

    @property
    def params(self):
        return [p for ps in self.lists for p in ps]

    def key(self, p):
        return f"{self.owner}.{self.name}.{p.name}"


IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
DEF_RE = re.compile(r"\bdef\s+(" + IDENT + r")")
OWNER_RE = re.compile(r"\b(?:object|class|trait)\s+(" + IDENT + r")")
CONST_RE = re.compile(r"\bval\s+(" + IDENT + r")\s*(?::\s*\w+\s*)?=\s*"
                      r"(-?[0-9][0-9_.]*[LlDdFf]?|\"[^\"\n]*\"|true|false)\s*(?://.*)?$",
                      re.M)


def line_of(src, off):
    return src.count("\n", 0, off) + 1


def indent_at(src, off):
    ls = src.rfind("\n", 0, off) + 1
    return len(src[ls:off]) - len(src[ls:off].lstrip(" "))


def body_end(src, m, after_sig, indent):
    """End offset of a def's body: up to the first later line indented
    no deeper than the def that is not its closing bracket."""
    pos = src.find("\n", after_sig)
    if pos < 0:
        return len(src)
    while True:
        nxt = src.find("\n", pos + 1)
        line_end = len(src) if nxt < 0 else nxt
        text = m[pos + 1:line_end]
        if text.strip():
            ind = len(text) - len(text.lstrip(" "))
            if ind < indent or (ind == indent and text.strip()[0] not in ")}]"):
                return pos
        if nxt < 0:
            return len(src)
        pos = nxt


def parse_defs(path, src, m):
    owners = [(mo.start(), mo.group(1), indent_at(src, mo.start()))
              for mo in OWNER_RE.finditer(m)]
    defs = []
    for mo in DEF_RE.finditer(m):
        i = skip_ws(m, mo.end())
        if i < len(m) and m[i] == "[":
            i = skip_ws(m, match(m, i))
        lists, implicit = [], []
        while i < len(m) and m[i] == "(":
            j = match(m, i)
            ps = []
            for a, b in split_top(m, i + 1, j - 1):
                eq = top_eq(m, a, b)
                head = m[a:eq if eq >= 0 else b]
                nm = re.match(r"\s*(?:(?:implicit|using|val|var|final)\s+)*(" + IDENT + r")\s*:",
                              head)
                if not nm:
                    continue
                default = norm(src[eq + 1:b]) if eq >= 0 else None
                ps.append(Param(nm.group(1), default, head.rstrip().endswith("*")))
            lists.append(ps)
            implicit.append(bool(re.match(r"\(\s*(?:implicit|using)\b", m[i:j])))
            i = skip_ws(m, j)
        ind = indent_at(src, mo.start())
        owner = "?"
        for off, name, oind in owners:
            if off < mo.start() and oind < ind:
                owner = name
        defs.append(Def(path, line_of(src, mo.start()), owner, mo.group(1), lists,
                        implicit, mo.start(), body_end(src, m, i, ind)))
    return defs


def read(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


def scala_files(dirs):
    for d in dirs:
        for dp, _, fs in os.walk(os.path.join(ROOT, d)):
            for f in sorted(fs):
                if f.endswith(".scala"):
                    yield os.path.join(dp, f)


# ---------------------------------------------------------------- census


def census():
    files = {p: read(p) for p in scala_files(set(MAIN + CALLERS))}
    masked = {p: mask(s) for p, s in files.items()}
    main_defs, file_defs = [], collections.defaultdict(list)
    for p in scala_files(CALLERS):
        ds = parse_defs(p, files[p], masked[p])
        file_defs[p] = ds
        if any(p.startswith(os.path.join(ROOT, d) + os.sep) for d in MAIN):
            main_defs.extend(ds)
    by_name = collections.defaultdict(list)
    for d in main_defs:
        by_name[d.name].append(d)

    consts = collections.defaultdict(set)
    for p in files:
        for mo in CONST_RE.finditer(masked[p]):
            lit = files[p][mo.start(2):mo.end(2)]
            consts[mo.group(1)].add(lit)

    def resolve(expr):
        e = norm(expr)
        bare = e.split(".")[-1]
        if re.fullmatch(IDENT + r"(\." + IDENT + r")*", e) and len(consts.get(bare, ())) == 1:
            return next(iter(consts[bare]))
        return e

    # values[(def id, param name)] -> set of literal texts; fwd edges
    values = collections.defaultdict(set)
    fwd = collections.defaultdict(set)   # target param -> {source param}
    omitted = set()                      # (def, param) some call leaves out
    call_re = re.compile(r"(?:\b(" + IDENT + r")\s*\.\s*)?\b(" + IDENT + r")\s*(?=\()")

    def enclosing_param(p, off, name):
        best = None
        for d in file_defs[p]:
            if d.start < off <= d.body_end and any(q.name == name for q in d.params):
                if best is None or d.start > best.start:
                    best = d
        return best

    for p in files:
        if not any(p.startswith(os.path.join(ROOT, d) + os.sep) for d in CALLERS):
            continue
        src, m = files[p], masked[p]
        for mo in call_re.finditer(m):
            qual, name = mo.group(1), mo.group(2)
            cands = by_name.get(name)
            if not cands:
                continue
            # skip the def's own signature
            if re.search(r"\bdef\s+$", m[max(0, mo.start(2) - 40):mo.start(2)]):
                continue
            if qual and any(d.owner == qual for d in cands):
                cands = [d for d in cands if d.owner == qual]
            elif not qual:
                local = [d for d in cands if d.path == p]
                cands = local or cands
            # argument groups
            groups, i = [], mo.end()
            while i < len(m) and m[i] == "(":
                j = match(m, i)
                groups.append((i + 1, j - 1))
                i = j
            for d in cands:
                binds = bind(d, groups, m, src)
                if binds is None:
                    continue
                for prm, expr in binds:
                    k = (id(d), prm.name)
                    if expr is None:
                        omitted.add(k)
                        continue
                    e = norm(expr)
                    if re.fullmatch(IDENT, e):
                        enc = enclosing_param(p, mo.start(), e)
                        if enc is not None and enc is not d:
                            fwd[k].add((id(enc), e))
                            continue
                    values[k].add(resolve(e))

    # defaults contribute where omitted; propagate forwards to a fixpoint
    for ds in file_defs.values():
        for d in ds:
            for prm in d.params:
                if prm.default is not None and (id(d), prm.name) in omitted:
                    values[(id(d), prm.name)].add(resolve(prm.default))
    changed = True
    while changed:
        changed = False
        for k, srcs in fwd.items():
            for s in srcs:
                add = values[s] - values[k]
                if add:
                    values[k] |= add
                    changed = True

    rows = []
    for d in main_defs:
        for prm in d.params:
            if prm.default is None:
                continue
            vs = values[(id(d), prm.name)]
            default = resolve(prm.default)
            single = vs <= {default}
            rows.append((d, prm, default, sorted(vs), single))
    return rows


def bind(d, groups, m, src):
    """[(param, arg text or None)] for a call of `d` with arg `groups`,
    or None when the call cannot bind to `d`."""
    if len(groups) > len(d.lists) or (not groups and d.lists):
        return None
    out = []
    for gi, ps in enumerate(d.lists):
        if gi >= len(groups):
            # a later list the call leaves out: only an implicit one, or
            # one whose every parameter has a default, can be left out
            if not d.implicit[gi] and any(q.default is None for q in ps):
                return None
            out.extend((q, None) for q in ps if q.default is not None)
            continue
        a, b = groups[gi]
        args = split_top(m, a, b)
        given = {}
        for ai, (x, y) in enumerate(args):
            eq = top_eq(m, x, y)
            named = re.fullmatch(r"\s*(" + IDENT + r")\s*", m[x:eq]) if eq >= 0 else None
            if named:
                nm = named.group(1)
                if not any(q.name == nm for q in ps):
                    return None
                given[nm] = src[eq + 1:y]
            else:
                if ai >= len(ps):
                    # extra varargs, or a call of a different overload
                    if ps and ps[-1].vararg:
                        continue
                    return None
                given[ps[ai].name] = src[x:y]
        for q in ps:
            if q.name in given:
                out.append((q, given[q.name]))
            elif q.default is not None:
                out.append((q, None))
            else:
                return None
    return out


def matches(key):
    owner, dname, pname = key.split(".")
    for pat in ALLOWLIST:
        po, pd, pp = pat.split(".")
        if pp == pname and po in ("*", owner) and pd in ("*", dname):
            return ALLOWLIST[pat]
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--check", action="store_true",
                    help="exit 1 on a single-valued parameter not on the allowlist")
    ap.add_argument("--all", action="store_true", help="list every defaulted parameter")
    args = ap.parse_args()
    rows = census()
    flagged, allowed = [], []
    for d, prm, default, vs, single in rows:
        key = d.key(prm)
        rel = os.path.relpath(d.path, ROOT)
        line = f"{rel}:{d.line} {key} = {default}  values {vs}"
        if single:
            why = matches(key)
            (allowed if why else flagged).append(line + (f"  [allowed: {why}]" if why else ""))
        if args.all and not single:
            print("  multi   " + line)
    for line in allowed:
        if args.all:
            print("  allowed " + line)
    for line in flagged:
        print("  SINGLE  " + line)
    singles = sum(1 for r in rows if r[4])
    print(f"{len(rows)} defaulted parameters in src/main; {singles} single-valued "
          f"({len(allowed)} allowed, {len(flagged)} not)")
    if args.check and flagged:
        sys.exit(1)


if __name__ == "__main__":
    main()
