#!/usr/bin/env python3
"""Generate OPERATORS.md — the user-facing operator index.

For every public `object`/`class` under src/main/scala/graft, emit:
its source file, the first sentence of its top-level Scaladoc, and the
query ids (from the registry modules) that exercise it.
Run from the repo root:  python3 tools/gen_index.py
"""
import os, re, glob, collections

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join(ROOT, "src/main/scala/graft")

def first_sentence(doc: str) -> str:
    # strip comment furniture, collapse whitespace, cut at first period
    # that ends a sentence (not inside e.g. "q58a." — periods followed
    # by whitespace/uppercase)
    txt = re.sub(r"^\s*/?\*+/?", "", doc, flags=re.M)
    txt = " ".join(txt.split())
    m = re.search(r"(.+?\.)(\s+[A-Z`(]|$)", txt)
    s = (m.group(1) if m else txt).strip()
    return s if len(s) <= 220 else s[:217] + "..."

def top_doc_and_objects(path: str):
    """[(name, one-liner)] for each top-level decl, each paired with the
    scaladoc block immediately preceding IT (files hold several objects)."""
    text = open(path).read()
    out = []
    for m in re.finditer(
            r"(?:/\*\*(.*?)\*/\s*)?^(?:final\s+)?(?:case\s+)?"
            r"(?:object|class|trait)\s+(\w+)",
            text, flags=re.S | re.M):
        doc = first_sentence(m.group(1)) if m.group(1) else ""
        out.append((m.group(2), doc))
    # an undocumented decl inherits the file's first doc block (the
    # common layout: one file-level scaladoc, several small objects)
    file_doc = next((d for _, d in out if d), "")
    return [(n, d or file_doc) for n, d in out]

def main():
    # 1) map object name -> (relpath, one-liner)
    objects = {}
    for path in sorted(glob.glob(SRC + "/**/*.scala", recursive=True)):
        rel = os.path.relpath(path, ROOT)
        for d, doc in top_doc_and_objects(path):
            objects.setdefault(d, (rel, doc))

    # 2) map object name -> query ids referencing it in registry modules;
    #    the modules themselves get the ids they DEFINE
    registry_files = sorted(glob.glob(SRC + "/registry/*Queries.scala"))
    registry_objects = set()
    uses = collections.defaultdict(set)
    for path in registry_files:
        for d, _ in top_doc_and_objects(path):
            registry_objects.add(d)
    for path in registry_files:
        text = open(path).read()
        defined = set(re.findall(r'QueryDef\("(q\d+[a-z]?_\w+)"', text))
        for d, _ in top_doc_and_objects(path):
            uses[d] = defined
        # split into per-query chunks: QueryDef("qID", build, oracle)
        entries = re.split(r'QueryDef\("(q\d+[a-z]?_\w+)"', text)
        for i in range(1, len(entries) - 1, 2):
            qid, body = entries[i], entries[i + 1]
            # each body stops at the next QueryDef, so symbols do not bleed
            for sym in re.findall(r"\b([A-Z]\w+)\s*[.(]", body):
                if sym in objects and sym not in registry_objects:
                    uses[sym].add(qid)

    # 3) render, grouped by package directory
    groups = collections.defaultdict(list)
    for name, (rel, doc) in sorted(objects.items()):
        pkg = os.path.dirname(rel).replace("src/main/scala/graft", "") \
            .strip("/") or "(root)"
        qids = sorted(uses.get(name, ()),
                      key=lambda q: (int(re.match(r"q(\d+)", q).group(1)), q))
        groups[pkg].append((name, rel, doc, qids))

    out = ["# Operator index",
           "",
           "Generated by `tools/gen_index.py` from the source tree and the",
           "registry modules — regenerate after adding an",
           "operator or a query. One row per public object: what it is,",
           "where it lives, and which oracle-checked queries exercise it",
           "(see `COVERAGE.md` for the SURVEY §2 mapping and specs).",
           ""]
    order = sorted(groups, key=lambda p: (p != "(root)", p))
    for pkg in order:
        out.append(f"## {pkg}")
        out.append("")
        out.append("| Object | One-liner | Source | Queries |")
        out.append("|---|---|---|---|")
        for name, rel, doc, qids in groups[pkg]:
            qs = " ".join(q.split("_")[0] for q in qids) or "—"
            out.append(f"| `{name}` | {doc} | `{rel}` | {qs} |")
        out.append("")
    open(os.path.join(ROOT, "OPERATORS.md"), "w").write("\n".join(out))
    n = sum(len(v) for v in groups.values())
    print(f"wrote OPERATORS.md: {n} objects, "
          f"{sum(1 for v in uses.values() if v)} referenced by queries")

if __name__ == "__main__":
    main()
