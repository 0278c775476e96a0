#!/usr/bin/env python3
"""Check that moving tests between spec files kept every test body.

Usage: python3 tools/spec_moves.py OLD_TEST_DIR NEW_TEST_DIR

Collects every `test(<name>) { <body> }` call in the Scala files under
each directory, keyed by the name expression's source, and compares the
bodies token by token (comments included, whitespace ignored). A body may differ only by the edits listed in
ALLOWED below; any other difference, and any name present on one side
only, is printed and makes the exit status 1.

Make OLD_TEST_DIR from a commit with
`git archive <rev> src/test | tar x -C <dir>`.
"""
import difflib
import glob
import os
import re
import sys
from collections import defaultdict

TOKEN = re.compile(r'"""(?:.|\n)*?"""+|"(?:[^"\\\n]|\\.)*"|//[^\n]*|/\*(?:.|\n)*?\*/'
                   r"|'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'|[A-Za-z_][A-Za-z0-9_]*|\d[\w.]*|\S")

# Helper references renamed: the fixture directory constant and the conf loan.
RENAMES = {('dir', 'sf'), ('withConfs', 'withConf')}
ALLOWED = """
  fixture   the sf0.001 fixture path literal -> sf; a local `sf` or `dir`
            copy of that path is dropped
  ts        a local `def ts(s: String) = Timestamp.valueOf(s)` is dropped
  nul       a raw NUL character in a literal -> "\\u0000"
  assume    assume( -> assert(
  rename    a helper reference renamed (RENAMES)
  tempdir   a Files.createTempDirectory binding, or a temp dir removed in
            a finally, -> withTempDir(prefix) { dir => ... }
  conf      a hand-written conf save/set/restore -> withConf(k -> v) { ... }
"""


def tokens(s):
    return [' '.join(t.split()) if t.startswith(('//', '/*')) else t
            for t in TOKEN.findall(s)]


def match_close(toks, i):
    """Index of the bracket closing toks[i]."""
    pairs = {'(': ')', '{': '}', '[': ']'}
    depth = 0
    for j in range(i, len(toks)):
        if toks[j] in pairs:
            depth += 1
        elif toks[j] in pairs.values():
            depth -= 1
            if depth == 0:
                return j
    raise ValueError('unbalanced')


def tests_in(path):
    toks = tokens(open(path, encoding='utf-8').read())
    out = []
    i = 0
    while i < len(toks) - 1:
        if toks[i] == 'test' and toks[i + 1] == '(' and (i == 0 or toks[i - 1] != '.'):
            j = match_close(toks, i + 1)
            name = ' '.join(toks[i + 2:j])
            if j + 1 < len(toks) and toks[j + 1] == '{':
                k = match_close(toks, j + 1)
                out.append((name, toks[j + 2:k]))
                i = j + 1  # tests may nest inside loops, never inside tests
                continue
        i += 1
    return out


def collect(d):
    res = defaultdict(list)
    for p in sorted(glob.glob(os.path.join(d, '**', '*.scala'), recursive=True)):
        for name, body in tests_in(p):
            res[name].append((os.path.relpath(p, d), body))
    return res


def fixture(t):
    """The sf0.001 fixture directory literal, which `TestSpark.sf` names."""
    return t.startswith('"/') and t.endswith('/testdata/sf0.001"')


def canon_old(body):
    out = []
    i = 0
    while i < len(body):
        t = body[i]
        # def ts(s: String) = [java.sql.]Timestamp.valueOf(s)  /  val ts = (s: String) => ...
        if t in ('def', 'val') and body[i + 1:i + 2] == ['ts'] and (
                body[i + 2:i + 6] == ['(', 's', ':', 'String']
                or body[i + 2:i + 7] == ['=', '(', 's', ':', 'String']):
            j = i
            while j < len(body) and body[j] != 'valueOf':
                j += 1
            if j - i < 20:
                i = j + 4  # valueOf ( s )
                continue
        if t == 'val' and body[i + 1] in ('sf', 'dir') and body[i + 2] == '=' and fixture(body[i + 3]):
            i += 4
            continue
        if fixture(t):
            t = 'sf'
        if t == 'assume':
            t = 'assert'
        if '\x00' in t:
            t = t.replace('\x00', '\\u0000')
        out.append(t)
        i += 1
    return out


# Tokens a temp-dir or conf rewrite may remove or add, besides string
# literals that already occur in the old body (prefixes, keys, values).
TEMPDIR_VOCAB = {
    'withTempDir', 'createTempDirectory', 'freshPath', 'lake', 'deleteOnExit',
    'java', 'nio', 'file', 'io', 'Files', 'Paths', 'File', 'get', 'new',
    'toString', 'toFile', 'getAbsolutePath', 'StateStore', 'val', '=', '>',
    '.', '(', ')', '{', '}', ',', '+', '"/state"', '"/out"', '"/cp"', '"/s"',
    'tmp', 'tmpDir', 'dir', 'statePath', 'path', 'state', 'outDir', 'cpDir',
    'data', 'rows', '300', 'try', 'finally', 'rm', 'out',
    'org', 'apache', 'commons', 'FileUtils', 'deleteDirectory',
    'graft', 'util', 'TempDirs',
}
CONF_VOCAB = {
    'withConf', 'spark', 'conf', 'get', 'set', 'val', 'prev', 'saved',
    'thresholdKey', 'try', 'finally', '=', '-', '>', '.', '(', ')', '{', '}', ',',
}


def prefixes(toks):
    """Plain-word string literals: temp-dir name prefixes."""
    return {t for t in toks if re.fullmatch(r'"[\w-]+"', t)}


def explain(old, new):
    """Kinds of the edits between two bodies, or None if one is unexplained."""
    kinds = set()
    sm = difflib.SequenceMatcher(None, old, new, autojunk=False)
    literals = {t for t in old if t.startswith('"')}
    tempdir = 'withTempDir' in new and any(
        t in old for t in ('createTempDirectory', 'freshPath', 'lake', 'rm', 'TempDirs'))
    conf = 'withConf' in new and 'conf' in old
    for op, a, b, c, d in sm.get_opcodes():
        if op == 'equal':
            continue
        rem, add = old[a:b], new[c:d]
        toks = set(rem) | set(add)
        if len(rem) == 1 and len(add) == 1 and (rem[0], add[0]) in RENAMES:
            kinds.add('rename')
        elif tempdir and toks <= TEMPDIR_VOCAB | literals | prefixes(add):
            kinds.add('tempdir')
        elif conf and toks <= CONF_VOCAB | literals:
            kinds.add('conf')
        else:
            return None
    return kinds


def main():
    old, new = collect(sys.argv[1]), collect(sys.argv[2])
    bad = 0
    for name in sorted(set(old) | set(new)):
        n_old, n_new = len(old.get(name, [])), len(new.get(name, []))
        if n_old > n_new > 0 and all(
                any(explain(canon_old(ob), nb) is not None for _, nb in new[name])
                for _, ob in old[name]):
            print(f'MERGED {name}: {n_old} equal registrations -> {n_new}')
            continue
        if n_old != n_new:
            print(f'NAME {name}: {len(old.get(name, []))} old, {len(new.get(name, []))} new '
                  f'({", ".join(sorted({f for f, _ in old.get(name, [])}))} -> '
                  f'{", ".join(sorted({f for f, _ in new.get(name, [])}))})')
            bad += 1
    same = changed = 0
    counts = defaultdict(int)
    for name in sorted(set(old) & set(new)):
        news = [b for _, b in new[name]]
        for f, ob in old[name]:
            want = canon_old(ob)
            if want == ob and ob in news:
                same += 1
                continue
            best = None
            for nb in news:
                k = explain(want, nb)
                if k is not None and (best is None or len(k) < len(best)):
                    best = k
            if best is None:
                bad += 1
                print(f'BODY {f}: {name}')
                nb = max(news, key=lambda x: difflib.SequenceMatcher(None, want, x).ratio())
                for line in difflib.unified_diff(want, nb, lineterm='', n=3):
                    print('   ', line)
                continue
            changed += 1
            for k in best or {'fixture/ts/nul/assume'}:
                counts[k] += 1
    print(f'{same} tests byte-identical (whitespace and comments aside), '
          f'{changed} differ only by the allowed edits: '
          + ', '.join(f'{k} {v}' for k, v in sorted(counts.items())))
    print(f'{bad} unexplained differences')
    return 1 if bad else 0


if __name__ == '__main__':
    sys.exit(main())
