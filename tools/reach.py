#!/usr/bin/env python3
"""Bytecode reachability report for src/main.

Usage: python3 tools/reach.py [classesDir] [perfbenchSrc]
       (defaults: target/scala-2.13/classes and perfbench/src; run
       `sbt compile` first so the classes match the sources)

Disassembles every class with `javap -c -l -p` and builds a method graph
whose nodes are (class, method name), overloads merged. It walks the graph
from the entry points and prints, per source file, each method no entry
point reaches, with its line span.

Entry points:
  - `main` of graft.Bench, graft.Verify, graft.Explain, graft.PlanAudit
  - every public method of graft.SparkEntry, graft.pipelines.Pipelines
    and graft.streaming.CurationStream
  - every `Name.member` of a src/main object that perfbench's sources
    mention (a nested type `Name.Type` reaches that class whole)

Edges:
  - `Method`/`InterfaceMethod` references (a reference without an owner is
    to the same class), to the nearest definer of an inherited method and
    to its overrides in src/main objects
  - `MODULE$` reads, to the module's static initializer and constructor
  - `new` and `ldc` class references: an instantiated class is reached
    whole (Spark may dispatch into any of its methods), and so are its
    src/main superclasses and interfaces
  - `invokedynamic`, and a `val` accessor whose lambdas its module's
    static initializer builds: a method `m` reaches the
    `$anonfun$m$N` lambda bodies of its class

Blind spots: classes named only in strings (reflection, service files,
`spark.sql.extensions`) are not followed; such a class shows as unreached.
"""
import collections
import glob
import os
import re
import subprocess
import sys

CLASS_HDR = re.compile(r"^[\w ]*?\b(?:class|interface) ([\w.$]+)(.*)\{$")
METHOD_DECL = re.compile(r"^  \S.*\(.*\).*;$")
STATIC_INIT = re.compile(r"^  (?:public )?static \{\};$")
REF = re.compile(r"// (?:Method|InterfaceMethod) (?:(?P<owner>[\w/$]+)\.)?\"?(?P<name>[\w$<>]+)\"?:")
FIELD_MODULE = re.compile(r"getstatic .*// Field (?P<owner>[\w/$]+)\.MODULE\$:")
NEW_OR_LDC = re.compile(r"\b(?:new|ldc(?:_w)?)\s+#\d+\s+// class (?P<cls>[\w/$]+)")
LINE = re.compile(r"^      line (\d+): \d+$")
MODULE_FIELD = re.compile(r"^  public static final [\w.$]+ MODULE\$;$")

MAINS = ["graft/Bench", "graft/Verify", "graft/Explain", "graft/PlanAudit"]
WHOLE_OBJECTS = ["graft/SparkEntry", "graft/pipelines/Pipelines",
                 "graft/streaming/CurationStream"]

# Compiler-made methods: initializers, lambda bodies, default-argument
# getters, lazy-val bodies, serialization proxies, specializations.
SYNTHETIC = {"<init>", "<clinit>", "$deserializeLambda$", "$init$", "writeReplace"}
SYNTHETIC_PART = re.compile(r"^\$anonfun\$|\$default\$|\$lzycompute|\$mc\w+\$sp$")
# A case class's and its companion's generated members.
CASE_CLASS = {"copy", "productArity", "productElement", "productPrefix",
              "productIterator", "productElementName", "productElementNames",
              "canEqual", "equals", "hashCode", "toString", "apply", "unapply",
              "readResolve", "curried", "tupled"}
CASE_CLASS_PART = re.compile(r"^copy\$|^\$lessinit")

class Method:
    def __init__(self, cls, name, public):
        self.cls, self.name, self.public = cls, name, public
        self.refs = set()      # (class, method)
        self.classes = set()   # classes reached whole
        self.modules = set()   # modules whose MODULE$ is read
        self.lines = []


def disassemble(classes_dir):
    files = sorted(glob.glob(os.path.join(classes_dir, "**", "*.class"), recursive=True))
    out = []
    for i in range(0, len(files), 400):
        out.append(subprocess.run(["javap", "-c", "-l", "-p"] + files[i:i + 400],
                                  check=True, capture_output=True, text=True).stdout)
    return "\n".join(out)


def parse(text):
    methods = {}                   # (cls, name) -> Method (overloads merged)
    source, supers, modules = {}, {}, set()
    cls, cur, in_lines = None, None, False
    src = None
    for raw in text.splitlines():
        if raw.startswith("Compiled from "):
            src = raw.split('"')[1]
            continue
        m = CLASS_HDR.match(raw)
        if m and not raw.startswith(" "):
            cls = m.group(1).replace(".", "/")
            source[cls] = src
            rest = m.group(2)
            while "<" in rest:   # drop generics, innermost first
                rest = re.sub(r"<[^<>]*>", "", rest)
            supers[cls] = [t.replace(".", "/") for t in re.split(r"[\s,]+", rest)
                           if t and t not in ("extends", "implements")]
            cur = None
            continue
        if cls is None:
            continue
        if MODULE_FIELD.match(raw):
            modules.add(cls)
            continue
        static_init = STATIC_INIT.match(raw)
        if static_init or METHOD_DECL.match(raw):
            if static_init:
                name, public = "<clinit>", False
            else:
                words = raw[:raw.index("(")].split()
                name = "<init>" if words[-1].replace(".", "/") == cls else words[-1]
                public = "private" not in words
            cur = methods.setdefault((cls, name), Method(cls, name, public))
            cur.public = cur.public or public
            in_lines = False
            continue
        if cur is None:
            continue
        if raw.strip() == "LineNumberTable:":
            in_lines = True
            continue
        if in_lines:
            lm = LINE.match(raw)
            if lm:
                cur.lines.append(int(lm.group(1)))
                continue
            in_lines = False
        r = REF.search(raw)
        if r:
            cur.refs.add((r.group("owner") or cls, r.group("name")))
        f = FIELD_MODULE.search(raw)
        if f:
            cur.modules.add(f.group("owner"))
        n = NEW_OR_LDC.search(raw)
        if n:
            cur.classes.add(n.group("cls"))
    return methods, source, supers, modules


def lambda_base(name):
    """`foo`, `foo$1` and `$anonfun$foo$3` all name their lambdas `$anonfun$foo$N`."""
    if name.startswith("$anonfun$"):
        name = name[len("$anonfun$"):]
    return re.sub(r"(\$\d+)*(\$adapted)?$", "", name)


def perfbench_roots(perf_src, objects):
    roots = set()
    for path in glob.glob(os.path.join(perf_src, "**", "*.scala"), recursive=True):
        text = open(path, encoding="utf-8").read()
        for m in re.finditer(r"\b([A-Z]\w*)\.(\w+)", text):
            for cls in objects.get(m.group(1), ()):
                roots.add((cls, m.group(2)))
    return roots


def main():
    classes_dir = sys.argv[1] if len(sys.argv) > 1 else "target/scala-2.13/classes"
    perf_src = sys.argv[2] if len(sys.argv) > 2 else "perfbench/src"
    methods, source, supers, modules = parse(disassemble(classes_dir))
    by_class = collections.defaultdict(list)
    for (c, _), meth in methods.items():
        by_class[c].append(meth)
    lambdas = collections.defaultdict(list)   # (cls, base) -> lambda methods
    for (c, n), meth in methods.items():
        if n.startswith("$anonfun$"):
            lambdas[(c, lambda_base(n))].append(meth)

    subtypes = collections.defaultdict(set)   # class -> src/main subclasses and implementors
    for c in by_class:
        todo = list(supers.get(c, ()))
        while todo:
            p = todo.pop()
            if p in by_class and c not in subtypes[p]:
                subtypes[p].add(c)
                todo += supers.get(p, ())

    reached, whole = set(), set()
    work = []

    def reach(key):
        c, n = key
        if key not in methods:   # inherited: the nearest definer
            todo = list(supers.get(c, ()))
            while todo and key not in methods:
                c = todo.pop(0)
                key = (c, n)
                todo += supers.get(c, ())
        if key in methods and key not in reached:
            reached.add(key)
            work.append(methods[key])
            # Virtual dispatch: an instantiated class is reached whole, so
            # only objects (which `new` does not reach whole) need the edge.
            for sub in subtypes.get(c, set()) & modules:
                reach((sub, n))

    def reach_class(c):
        if c in modules:   # `new` of a module runs only its initializers
            reach((c, "<init>"))
            reach((c, "<clinit>"))
            return
        if c in whole or c not in by_class:
            return
        whole.add(c)
        for meth in by_class[c]:
            reach((c, meth.name))
        for p in supers.get(c, ()):
            reach_class(p)

    roots = []
    for c in MAINS:
        roots += [(c, "main"), (c + "$", "main")]
    for c in WHOLE_OBJECTS:
        roots += [(c2, meth.name) for c2 in (c, c + "$") for meth in by_class[c2] if meth.public]
    objects = collections.defaultdict(set)    # simple name -> classes
    for c in by_class:
        if c.startswith("graft/") and c.endswith("$") and "$" not in c[:-1]:
            simple = c.rsplit("/", 1)[1][:-1]
            objects[simple].update({c, c[:-1]})
    for c, member in sorted(perfbench_roots(perf_src, objects)):
        nested = c.rstrip("$") + "$" + member
        if nested in by_class:
            reach_class(nested)
        roots.append((c, member))
    for key in roots:
        reach(key)

    while work:
        meth = work.pop()
        for key in meth.refs:
            reach(key)
        for mod in meth.modules:
            reach((mod, "<clinit>"))
            reach((mod, "<init>"))
        for c in meth.classes:
            reach_class(c)
        for lam in lambdas.get((meth.cls, lambda_base(meth.name)), ()):
            reach((lam.cls, lam.name))
        if meth.name == "<init>":
            reach((meth.cls, "<clinit>"))

    # Report. An object's module class `X$` and its static forwarders in
    # `X` are one class here; compiler-made methods and classes are not
    # defs. A class nothing reaches prints as one line.
    case_classes = {c for c in by_class if (c, "productArity") in methods}

    def synthetic(c, n):
        if n in SYNTHETIC or SYNTHETIC_PART.search(n):
            return True
        return c.rstrip("$") in case_classes and (n in CASE_CLASS or CASE_CLASS_PART.match(n))

    groups = collections.defaultdict(list)    # class without trailing $ -> methods
    for (c, n), meth in methods.items():
        if c.startswith("graft/") and "$$" not in c:
            groups[c.rstrip("$")].append(meth)
    per_file = collections.defaultdict(list)
    for top in sorted(groups):
        ms = groups[top]
        src = os.path.join(os.path.dirname(top), source.get(top) or source.get(top + "$") or "")
        name = top.rsplit("/", 1)[1]
        lines = [ln for meth in ms for ln in meth.lines]
        span = f"{min(lines)}-{max(lines)}" if lines else "-"
        if not any((meth.cls, meth.name) in reached for meth in ms):
            per_file[src].append(f"  {name}  {span}  (class never reached)")
            continue
        defs = collections.defaultdict(list)
        for meth in ms:
            if not synthetic(meth.cls, meth.name):
                defs[meth.name].append(meth)
        for n in sorted(defs):
            if any((meth.cls, meth.name) in reached for meth in defs[n]):
                continue
            ln = [x for meth in defs[n] for x in meth.lines]
            per_file[src].append(f"  {name}.{n}  " + (f"{min(ln)}-{max(ln)}" if ln else "-"))
    total = sum(len(v) for v in per_file.values())
    print(f"reach: {len(by_class)} classes, {len(methods)} methods, {len(reached)} reached; "
          f"{total} unreached defs or classes in {len(per_file)} source files")
    for src in sorted(per_file):
        print(src)
        for line in per_file[src]:
            print(line)


if __name__ == "__main__":
    main()
