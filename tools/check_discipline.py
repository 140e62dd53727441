#!/usr/bin/env python3
"""Mechanical guard for the two PLANS.md disciplines (round-9 verdict
ask #2): the window tie-break classification and the round-on-quotient
classification. Until round 9 both lived only as prose audits
(PLANS.md:2123-2229); nothing stopped entry #274 from shipping a
tie-prone ORDER BY or a row-grain round-on-quotient. This lint makes
the audits load-bearing:

1. WINDOW TIE-BREAK (Scala side): every `Window.partitionBy/orderBy`
   spec chain in src/main/scala/graft is fingerprinted
   (file + normalized chain text) and must appear in
   tools/discipline.json -> scala_windows with a class:
     T  explicit tiebreak — ORDER BY ends in a unique key; the declared
        tiebreak key must appear in the LAST orderBy argument (checked)
     U  structurally unique grain (post-groupBy/distinct) — reason req.
     R  tie-insensitive by definition (rank family / RANGE frame)
     V  value-insensitive under ties, proven — reason required
     unordered  no ORDER BY in the chain (checked textually)
   An undeclared spec chain FAILS the lint — new window code must
   declare its class to ship. A spec held in a val is fingerprinted
   again wherever a frame extends it (`w.rowsBetween(...)`): the
   extended chain is a spec of its own.

2. WINDOW TIE-BREAK (oracle side): every OVER(...) clause in
   target/verify_out/oracle_sql.json is parsed. Auto-classified safe:
   no ORDER BY; rank/dense_rank/percent_rank/cume_dist; aggregates
   under the default RANGE frame (peers share the frame, output is
   tie-order-invariant). Order-SENSITIVE clauses (row_number, ntile,
   lag, lead, first_value, last_value, nth_value, ordered string/array
   agg, or any explicit ROWS frame) require the entry to be declared in
   oracle_windows with a class; for class T the ORDER BY's last key
   (modifiers stripped) must be one of the declared unique tails.

3. ROUND-ON-QUOTIENT (both sides): every `round(`/`ROUND(` whose
   argument contains a division (`/`, `//`, ` div `) is flagged — the
   r7/r9 bug class (last-ulp divergence when a quotient of exact
   integer sums is rounded at a representability boundary). Each site
   must be declared with a class from the round-9 audit
   (PLANS.md:2188-2229):
     exact-integer   converted to integer half-up (immune)
     group-rational  group-grain rational quotient, engines agree on
                     all reachable halves (probed)
     irrational      operand contains sqrt/log/pow — halfway
                     unreachable except ulp-coincidence
     quantized       inputs carry no digit beyond the round scale
   Row-grain rounding has no legal class — a new row-grain site cannot
   be declared as anything and must be respelled.

4. TASK-RETRY DETERMINISM (round-10 verdict ask #4, Scala side):
   under speculative execution or executor loss, Spark re-runs
   individual TASKS; any construct whose value depends on
   partition-internal evaluation order, PRNG draws, or truncated
   lineage can return a DIFFERENT answer on retry — silently, since
   the job still succeeds. Every such construct in src/main must be
   declared in tools/discipline.json -> retry_scala with a class:
     ordered        first/last/collect over an explicitly ordered
                    frame whose ordering is total (ties broken) — the
                    value is the same under any execution order
     windowed       first_value/last_value/lag-family over a Window
                    spec already classified by the tie-break lint
     single-valued  the aggregated group is proven single-valued;
                    any element IS the element
     sorted-output  collect_list/collect_set wrapped in
                    sort_array/array_sort before the value is used
     order-free     the collected multiset is consumed order-
                    insensitively (exploded, size(), containment) so
                    element order cannot reach the output
     seeded         rand(seed)/randn(seed): Spark reseeds per
                    partition INDEX, so a retried task reproduces its
                    exact draws — deterministic given deterministic
                    parent partitioning (spark.range / file scans)
     scan-metadata  input_file_name(): the row<->file binding is
                    fixed by the scan, identical on retry
     stateless      mapPartitions whose function is a pure per-row
                    transform of its own partition (no cross-
                    partition or external mutable state)
     failfast       localCheckpoint(): an executor loss makes the
                    job FAIL LOUDLY (lineage truncated, no recompute)
                    rather than silently diverge; cluster deployments
                    swap in reliable checkpoint()
     driver-action  a driver-side .first()/.head on a 1-row frame
   Each class requires a reason. String literals are blanked for this
   scan (SQL text is the oracle lints' jurisdiction: order-sensitive
   OVER clauses in SQL entries are already forced through
   oracle_windows).

Every table is checked both ways: a declaration whose site is gone is
DEAD and FAILS the lint too, so tools/discipline.json holds exactly the
live sites.

Usage:
    python3 tools/check_discipline.py            # lint (exit 1 on fail)
    python3 tools/check_discipline.py --dump-undeclared
    python3 tools/check_discipline.py --selftest # planted violations

Dev-only tool (driver-side python); not part of the shipped library.
"""
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DECLS = os.path.join(REPO, "tools", "discipline.json")
ORACLES = os.path.join(REPO, "target", "verify_out", "oracle_sql.json")
SRC = os.path.join(REPO, "src", "main", "scala", "graft")

CLASSES = {"T", "U", "R", "V", "unordered"}
ROUND_CLASSES = {"exact-integer", "group-rational", "irrational",
                 "quantized"}

# order-INSENSITIVE window functions: peers tie-safe by definition
RANK_FAMILY = {"rank", "dense_rank", "percent_rank", "cume_dist"}
# order-SENSITIVE window functions: output depends on peer order
ORDER_SENSITIVE = {"row_number", "ntile", "lag", "lead", "first_value",
                   "last_value", "nth_value", "first", "last",
                   "string_agg", "array_agg", "list", "group_concat",
                   "listagg"}


def balanced(text, start):
    """Return end index just past the balanced paren group opening at
    text[start] == '(' (quotes respected)."""
    depth = 0
    i = start
    in_str = None
    while i < len(text):
        c = text[i]
        if in_str:
            if c == in_str and text[i - 1] != "\\":
                in_str = None
        elif c in "'\"":
            in_str = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return len(text)


# ---------------------------------------------------------------- scala

CHAIN_CALLS = ("partitionBy", "orderBy", "rowsBetween", "rangeBetween")


def strip_comments(text):
    """Blank out scaladoc/block comments (nested, as Scala allows) and
    // line comments INCLUDING trailing ones, length-preserving so line
    numbers survive — prose mentions of round()/Window must not be lint
    sites, and comment edits must not churn fingerprints. String
    literals are respected: the oracle SQL lives in triple-quoted
    strings full of DuckDB `//` integer division, which must NOT be
    treated as comments (the prior regex only blanked full-line //
    comments precisely to dodge this; the scanner handles both).
    Interpolated strings (s"…${ expr }…", incl. triple-quoted) re-enter
    CODE mode inside ${…} with brace-depth tracking — a quote or //
    inside the interpolation braces must not flip string/comment state
    for the rest of the file (round-11 ADVICE)."""
    out = []
    i, n = 0, len(text)
    mode = 0          # 0 code, 1 line comment, 2 block, 3 "str", 4 triple
    depth = 0         # block-comment nesting
    braces = 0        # code-mode brace depth (for interpolation frames)
    frames = []       # (string-mode to return to, brace depth at entry)
    interp = False    # current string literal is s/f/raw-interpolated
    while i < n:
        c = text[i]
        if mode == 0:
            if text.startswith("//", i):
                mode = 1
                out.append("  ")
                i += 2
            elif text.startswith("/*", i):
                mode, depth = 2, 1
                out.append("  ")
                i += 2
            elif text.startswith('"""', i):
                mode = 4
                interp = i > 0 and (text[i - 1].isalnum()
                                    or text[i - 1] == "_")
                out.append('"""')
                i += 3
            elif c == '"':
                mode = 3
                interp = i > 0 and (text[i - 1].isalnum()
                                    or text[i - 1] == "_")
                out.append(c)
                i += 1
            elif c == "'":
                # char literal ('x', '\n', '\"'): copy wholesale so a
                # quote char inside never flips string mode
                m = re.match(r"'(\\.|[^\\'])'", text[i:])
                if m:
                    out.append(m.group(0))
                    i += len(m.group(0))
                else:          # symbol literal / lone quote
                    out.append(c)
                    i += 1
            elif c == "{":
                braces += 1
                out.append(c)
                i += 1
            elif c == "}":
                braces -= 1
                out.append(c)
                i += 1
                if frames and braces == frames[-1][1]:
                    mode, interp = frames.pop()[0], True
            else:
                out.append(c)
                i += 1
        elif mode == 1:        # // line comment
            if c == "\n":
                mode = 0
                out.append(c)
            else:
                out.append(" ")
            i += 1
        elif mode == 2:        # block comment (nested)
            if text.startswith("/*", i):
                depth += 1
                out.append("  ")
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                out.append("  ")
                i += 2
                if depth == 0:
                    mode = 0
            else:
                out.append(c if c == "\n" else " ")
                i += 1
        elif mode == 3:        # "string"
            if interp and text.startswith("${", i):
                frames.append((3, braces))
                braces += 1
                mode, interp = 0, False
                out.append("${")
                i += 2
            elif interp and text.startswith("$$", i):
                out.append("$$")     # escaped $, NOT an interpolation
                i += 2
            elif c == "\\" and i + 1 < n:
                out.append(text[i:i + 2])
                i += 2
            else:
                if c == '"' or c == "\n":   # unterminated: bail at EOL
                    mode = 0
                out.append(c)
                i += 1
        else:                  # """triple""" (ends at the LAST quote of
            if interp and text.startswith("${", i):
                frames.append((4, braces))
                braces += 1
                mode, interp = 0, False
                out.append("${")
                i += 2
            elif interp and text.startswith("$$", i):
                out.append("$$")
                i += 2
            elif text.startswith('"""', i):   # a quote run, per Scala)
                j = i
                while j < n and text[j] == '"':
                    j += 1
                out.append(text[i:j])
                i = j
                mode = 0
            else:
                out.append(c)
                i += 1
    return "".join(out)


def parse_chain(text, i):
    """Parse a `.partitionBy(..).orderBy(..).rowsBetween(..)` chain
    starting at text[i]; return (parts, order_args, end index)."""
    parts = []
    order_args = []
    while True:
        mm = re.match(r"\s*(\w+)\s*\(", text[i:])
        if not mm or mm.group(1) not in CHAIN_CALLS:
            # allow continued chain across whitespace + dot
            mm2 = re.match(r"\s*\.\s*(\w+)\s*\(", text[i:])
            if not mm2 or mm2.group(1) not in CHAIN_CALLS:
                break
            mm = mm2
        call = mm.group(1)
        op = i + mm.end() - 1          # index of '('
        end = balanced(text, op)
        arg = text[op + 1:end - 1]
        parts.append(f"{call}({norm_scala_arg(arg)})")
        if call == "orderBy":
            order_args.append(arg)
        i = end
    return parts, order_args, i


def window_sites_in(text, rel):
    """Yield (relpath, line, chain_fingerprint, has_orderby,
    last_order_arg) for every Window spec chain in one comment-stripped
    source text. A spec held in a val (`val w = Window.…`) is
    fingerprinted where it is built, and again wherever a frame or
    another chain call extends it (`w.rowsBetween(…)`): the extended
    chain is its own spec, with the val's chain as its prefix."""
    held = {}                  # val name -> [(pos, parts, order_args)]
    for m in re.finditer(r"\bWindow\s*\.", text):
        parts, order_args, _ = parse_chain(text, m.end())
        if not parts:
            continue          # Window.unboundedPreceding etc.
        if not any(p.startswith(("partitionBy", "orderBy"))
                   for p in parts):
            continue
        v = re.search(r"\bval\s+(\w+)\s*(?::\s*[\w.]+\s*)?=\s*$",
                      text[:m.start()])
        if v:
            held.setdefault(v.group(1), []).append(
                (m.start(), parts, order_args))
        line = text.count("\n", 0, m.start()) + 1
        yield (rel, line, ".".join(parts),
               any(p.startswith("orderBy") for p in parts),
               order_args[-1] if order_args else "")
    for name, defs in held.items():
        for m in re.finditer(r"\b%s(?=\s*\.\s*(%s)\s*\()"
                             % (re.escape(name), "|".join(CHAIN_CALLS)),
                             text):
            # the nearest definition above the use (else the first one)
            before = [d for d in defs if d[0] < m.start()]
            _, base, base_order = (before or defs)[-1 if before else 0]
            more, order_args, _ = parse_chain(text, m.end())
            parts = base + more
            order_args = base_order + order_args
            line = text.count("\n", 0, m.start()) + 1
            yield (rel, line, ".".join(parts),
                   any(p.startswith("orderBy") for p in parts),
                   order_args[-1] if order_args else "")
    # tripwire: a WindowSpec passed around by type (a parameter, a def
    # result) would evade the scan above — force it to be extended first
    for m in re.finditer(r"\bWindowSpec\b", text):
        line = text.count("\n", 0, m.start()) + 1
        yield rel, line, "WINDOWSPEC_TYPE_USED", True, ""


def scala_window_sites():
    """Yield (relpath, line, chain_fingerprint, has_orderby, last_order_arg)
    for every Window spec chain in main source."""
    for path in sorted(glob.glob(f"{SRC}/**/*.scala", recursive=True)):
        yield from window_sites_in(strip_comments(open(path).read()),
                                   os.path.relpath(path, REPO))


def norm_scala_arg(arg):
    a = re.sub(r"\s+", "", arg)
    a = a.replace('col("', '').replace('")', '').replace('"', '')
    return a


# --------------------------------------------------------------- oracle

def oracle_window_sites(sqls):
    """Yield (entry, func, clause, order_by_last_key, sensitive)."""
    for entry, sql in sorted(sqls.items()):
        low = sql
        for m in re.finditer(r"(\w+)\s*(\([^()]*(?:\([^()]*\))*[^()]*\))?"
                             r"\s*over\s*\(", low, re.I):
            func = m.group(1).lower()
            op = m.end() - 1
            end = balanced(low, op)
            clause = low[op + 1:end - 1]
            ob = re.search(r"order\s+by\s+(.*)", clause,
                           re.I | re.S)
            if not ob:
                continue                       # unordered: tie-safe
            # frame spec (if any) terminates the ORDER BY list; the
            # keyword must introduce a frame (BETWEEN/UNBOUNDED/CURRENT/
            # INTERVAL/number) — `range(1, 16)` the FUNCTION must not
            # split here
            obtxt = re.split(
                r"\b(?:rows|range|groups)\s+"
                r"(?=between\b|unbounded\b|current\b|interval\b|[\d-])",
                ob.group(1), flags=re.I)[0]
            keys = split_top_level(obtxt)
            last = norm_sql_key(keys[-1]) if keys else ""
            explicit_rows = re.search(r"\brows\b", clause, re.I)
            if func in RANK_FAMILY and not explicit_rows:
                continue                       # tie-insensitive
            sensitive = (func in ORDER_SENSITIVE
                         or bool(explicit_rows))
            if not sensitive:
                # aggregate under default RANGE frame: peers share the
                # frame -> output invariant to tie order
                continue
            yield entry, func, clause, last


def split_top_level(s):
    out, depth, cur = [], 0, []
    for c in s:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    if cur:
        out.append("".join(cur))
    return [x.strip() for x in out if x.strip()]


def norm_sql_key(k):
    k = re.sub(r"\s+(asc|desc)\b", "", k, flags=re.I)
    k = re.sub(r"\s+nulls\s+(first|last)\b", "", k, flags=re.I)
    return re.sub(r"\s+", " ", k).strip().lower()


# ---------------------------------------------------------------- round

def round_quotient_sites_sql(sqls):
    for entry, sql in sorted(sqls.items()):
        for m in re.finditer(r"\bround\s*\(", sql, re.I):
            op = m.end() - 1
            end = balanced(sql, op)
            arg = sql[op + 1:end - 1]
            if re.search(r"/|(?<![\w])//(?![\w])|\bdiv\b", arg, re.I):
                yield entry, re.sub(r"\s+", " ", arg)[:120]


def round_quotient_sites_scala():
    for path in sorted(glob.glob(f"{SRC}/**/*.scala", recursive=True)):
        text = strip_comments(open(path).read())
        rel = os.path.relpath(path, REPO)
        for m in re.finditer(r"\bround\s*\(", text):
            op = m.end() - 1
            end = balanced(text, op)
            arg = text[op + 1:end - 1]
            if re.search(r"/|\bdiv\b", arg):
                line = text.count("\n", 0, m.start()) + 1
                yield rel, line, norm_scala_arg(arg)[:120]


# ---------------------------------------------------------------- retry

RETRY_CLASSES = {"ordered", "windowed", "single-valued", "sorted-output",
                 "order-free", "seeded", "scan-metadata", "stateless",
                 "failfast", "driver-action"}
# value-bearing functions whose result can depend on evaluation order /
# PRNG state; first/last with EMPTY args are driver Row actions and are
# skipped (they act on an already-computed 1-row frame)
RETRY_FUNCS = ("first", "last", "first_value", "last_value",
               "collect_list", "collect_set", "rand", "randn",
               "input_file_name", "shuffle", "uuid",
               "monotonically_increasing_id", "spark_partition_id")
RETRY_METHODS = ("mapPartitionsWithIndex", "mapPartitions",
                 "foreachPartition", "localCheckpoint")


def blank_strings(text):
    """Blank the CONTENTS of string literals (quotes kept, length
    preserved) — the retry scan must see code, not SQL prose."""
    out = []
    i, n = 0, len(text)
    mode = 0                       # 0 code, 3 "str", 4 """triple"""
    while i < n:
        c = text[i]
        if mode == 0:
            if text.startswith('"""', i):
                mode = 4
                out.append('"""')
                i += 3
            elif c == '"':
                mode = 3
                out.append(c)
                i += 1
            else:
                out.append(c)
                i += 1
        elif mode == 3:
            if c == "\\" and i + 1 < n:
                out.append("  ")
                i += 2
            elif c == '"' or c == "\n":    # end (or unterminated: EOL)
                mode = 0
                out.append(c)
                i += 1
            else:
                out.append(" ")
                i += 1
        else:
            if text.startswith('"""', i):
                j = i
                while j < n and text[j] == '"':
                    j += 1
                out.append(text[i:j])
                i = j
                mode = 0
            else:
                out.append(c if c == "\n" else " ")
                i += 1
    return "".join(out)


def retry_sites_scala():
    """Yield (relpath, line, key, construct) for every retry-hazard
    construct in main source (comments AND string contents blanked)."""
    func_re = re.compile(r"\b(%s)\s*\(" % "|".join(RETRY_FUNCS))
    meth_re = re.compile(r"\.\s*(%s)\b" % "|".join(RETRY_METHODS))
    for path in sorted(glob.glob(f"{SRC}/**/*.scala", recursive=True)):
        text = blank_strings(strip_comments(open(path).read()))
        rel = os.path.relpath(path, REPO)
        for m in func_re.finditer(text):
            name = m.group(1)
            op = m.end() - 1
            end = balanced(text, op)
            raw = text[op + 1:end - 1]
            arg = norm_scala_arg(raw)
            # skip ONLY a truly-empty .first()/.last() (driver Row action
            # on a 1-row frame); a blanked col("...") arg is NOT empty in
            # the raw text, so aggregate first(col(x)) still lints
            if name in ("first", "last") and not raw.strip():
                continue
            line = text.count("\n", 0, m.start()) + 1
            yield rel, line, f"{rel}::{name}({arg[:80]})", name
        for m in meth_re.finditer(text):
            name = m.group(1)
            ls = text.rfind("\n", 0, m.start()) + 1
            le = text.find("\n", m.end())
            ctx = re.sub(r"\s+", "", text[ls:le if le > 0 else len(text)])
            line = text.count("\n", 0, m.start()) + 1
            yield rel, line, f"{rel}::{name}@{ctx[:80]}", name


# ----------------------------------------------------------------- lint

def load_decls():
    try:
        return json.load(open(DECLS))
    except FileNotFoundError:
        return {"scala_windows": {}, "oracle_windows": {},
                "round_scala": {}, "round_sql": {}}


def lint(sqls, decls, verbose=True):
    bad = []
    live = {t: set() for t in ("scala_windows", "oracle_windows",
                               "round_scala", "round_sql", "retry_scala")}
    dw = decls.get("scala_windows", {})
    for rel, line, fp, has_ob, last_arg in scala_window_sites():
        key = f"{rel}::{fp}"
        live["scala_windows"].add(key)
        d = dw.get(key)
        if fp == "WINDOWSPEC_TYPE_USED":
            bad.append(f"{rel}:{line}: detached WindowSpec usage — the "
                       "anchored scanner cannot fingerprint it; extend "
                       "check_discipline.py first")
            continue
        if d is None:
            bad.append(f"{rel}:{line}: UNDECLARED window spec '{fp}' — "
                       "declare its tie-break class (T/U/R/V/unordered) "
                       "in tools/discipline.json")
            continue
        cls = d.get("class")
        if cls not in CLASSES:
            bad.append(f"{rel}:{line}: window '{fp}' declares invalid "
                       f"class '{cls}'")
            continue
        if cls == "unordered" and has_ob:
            bad.append(f"{rel}:{line}: window '{fp}' declared unordered "
                       "but the chain contains orderBy")
        if cls == "T":
            tb = d.get("tiebreak", "")
            if not tb or tb.lower() not in last_arg.lower():
                bad.append(f"{rel}:{line}: window '{fp}' is class T but "
                           f"declared tiebreak '{tb}' is not in the last "
                           f"orderBy argument '{last_arg.strip()[:80]}'")
        if cls in {"U", "V"} and not d.get("reason"):
            bad.append(f"{rel}:{line}: window '{fp}' class {cls} needs a "
                       "reason (the structural-uniqueness / "
                       "value-invariance argument)")
    ow = decls.get("oracle_windows", {})
    for entry, func, clause, last in oracle_window_sites(sqls):
        live["oracle_windows"].add(entry)
        d = ow.get(entry)
        if d is None:
            bad.append(f"oracle[{entry}]: UNDECLARED order-sensitive "
                       f"window ({func} OVER ... ORDER BY ... {last!r}) "
                       "— declare the entry in tools/discipline.json")
            continue
        cls = d.get("class")
        if cls not in CLASSES - {"unordered"}:
            bad.append(f"oracle[{entry}]: invalid class '{cls}'")
            continue
        if cls == "T":
            tails = [t.lower() for t in d.get("tails", [])]
            if not any(t in last for t in tails):
                bad.append(f"oracle[{entry}]: class T but ORDER BY tail "
                           f"'{last}' matches none of the declared "
                           f"unique tails {tails}")
        if cls in {"U", "V"} and not d.get("reason"):
            bad.append(f"oracle[{entry}]: class {cls} needs a reason")
    rs = decls.get("round_scala", {})
    for rel, line, arg in round_quotient_sites_scala():
        key = f"{rel}::{arg}"
        live["round_scala"].add(key)
        d = rs.get(key)
        if d is None:
            bad.append(f"{rel}:{line}: UNDECLARED round-on-quotient "
                       f"'round({arg})' — classify it in "
                       "tools/discipline.json (exact-integer / "
                       "group-rational / irrational / quantized); "
                       "row-grain rounding has no legal class — respell")
        elif d.get("class") not in ROUND_CLASSES:
            bad.append(f"{rel}:{line}: round site declares invalid class "
                       f"'{d.get('class')}'")
    rq = decls.get("round_sql", {})
    for entry, arg in round_quotient_sites_sql(sqls):
        live["round_sql"].add(entry)
        d = rq.get(entry)
        if d is None:
            bad.append(f"oracle[{entry}]: UNDECLARED round-on-quotient "
                       f"'round({arg[:80]})' — classify the entry in "
                       "tools/discipline.json")
        elif d.get("class") not in ROUND_CLASSES:
            bad.append(f"oracle[{entry}]: invalid round class "
                       f"'{d.get('class')}'")
    rt = decls.get("retry_scala", {})
    for rel, line, key, construct in retry_sites_scala():
        live["retry_scala"].add(key)
        d = rt.get(key)
        if d is None:
            bad.append(f"{rel}:{line}: UNDECLARED retry-hazard "
                       f"'{construct}' ('{key.split('::', 1)[1][:90]}') — "
                       "classify it in tools/discipline.json retry_scala "
                       "(ordered/windowed/single-valued/sorted-output/"
                       "seeded/scan-metadata/stateless/failfast/"
                       "driver-action)")
        elif d.get("class") not in RETRY_CLASSES:
            bad.append(f"{rel}:{line}: retry site '{key}' declares "
                       f"invalid class '{d.get('class')}'")
        elif not d.get("reason"):
            bad.append(f"{rel}:{line}: retry site '{key}' class "
                       f"{d['class']} needs a reason")
    # a declaration whose site is gone is dead: it no longer classifies
    # anything, and new code that happens to fingerprint the same would
    # inherit its class unreviewed
    for table, keys in live.items():
        for key in decls.get(table, {}):
            if key not in keys:
                bad.append(f"{table}: DEAD declaration '{key}' — its site "
                           "is gone; delete it from tools/discipline.json")
    if verbose:
        for b in bad:
            print(f"[discipline] {b}")
    return bad


def dump_undeclared(sqls, decls):
    """Print JSON skeletons for every undeclared site (T proposed when
    the tail looks like a known unique key)."""
    unique_keys = ["o_orderkey", "event_id", "doc_id", "vec_id",
                   "c_custkey", "s_suppkey", "p_partkey", "l_orderkey",
                   "tok", "cid", "seed_id", "node", "stop_id", "trip_id",
                   "word", "pos", "dig", "user_id"]
    sw = {}
    for rel, line, fp, has_ob, last_arg in scala_window_sites():
        key = f"{rel}::{fp}"
        if key in decls.get("scala_windows", {}):
            continue
        prop = {"class": "unordered" if not has_ob else "",
                "line": line}
        for uk in unique_keys:
            if uk in last_arg.lower().split(",")[-1]:
                prop = {"class": "T", "tiebreak": uk, "line": line}
                break
        sw[key] = prop
    ow = {}
    for entry, func, clause, last in oracle_window_sites(sqls):
        if entry in decls.get("oracle_windows", {}) or entry in ow:
            continue
        prop = {"class": "", "tails": []}
        for uk in unique_keys:
            if uk in last:
                prop = {"class": "T", "tails": [uk]}
                break
        ow[entry] = prop
    rs = {}
    for rel, line, arg in round_quotient_sites_scala():
        key = f"{rel}::{arg}"
        if key not in decls.get("round_scala", {}):
            rs[key] = {"class": "", "line": line}
    rq = {}
    for entry, arg in round_quotient_sites_sql(sqls):
        if entry not in decls.get("round_sql", {}) and entry not in rq:
            rq[entry] = {"class": "", "site": arg[:80]}
    rt = {}
    for rel, line, key, construct in retry_sites_scala():
        if key not in decls.get("retry_scala", {}) and key not in rt:
            rt[key] = {"class": "", "reason": "", "line": line}
    print(json.dumps({"scala_windows": sw, "oracle_windows": ow,
                      "round_scala": rs, "round_sql": rq,
                      "retry_scala": rt}, indent=1))


def selftest(sqls, decls):
    """The lint must fail on planted violations of every guarded class."""
    planted = dict(sqls)
    planted["zz_planted_window"] = (
        "SELECT row_number() OVER (PARTITION BY a ORDER BY ts) AS rn "
        "FROM t")
    planted["zz_planted_round"] = (
        "SELECT round(sum(x) / count(*), 4) AS r FROM t GROUP BY k")
    bad = lint(planted, decls, verbose=False)
    checks = [
        ("undeclared oracle window",
         any("zz_planted_window" in b for b in bad)),
        ("undeclared oracle round-on-quotient",
         any("zz_planted_round" in b for b in bad)),
    ]
    # planted scala violation: lie about a T tiebreak
    d2 = json.loads(json.dumps(decls))
    for k, v in d2.get("scala_windows", {}).items():
        if v.get("class") == "T":
            v["tiebreak"] = "zz_not_a_column"
            break
    bad2 = lint(sqls, d2, verbose=False)
    checks.append(("T tiebreak mismatch detected",
                   any("zz_not_a_column" in b for b in bad2)))
    # planted: drop one scala declaration entirely
    d3 = json.loads(json.dumps(decls))
    if d3.get("scala_windows"):
        d3["scala_windows"].pop(sorted(d3["scala_windows"])[0])
        bad3 = lint(sqls, d3, verbose=False)
        checks.append(("undeclared scala window detected",
                       len(bad3) > len(lint(sqls, decls, verbose=False))))
    # planted: drop one retry declaration; and corrupt one class
    d4 = json.loads(json.dumps(decls))
    if d4.get("retry_scala"):
        k0 = sorted(d4["retry_scala"])[0]
        d4["retry_scala"].pop(k0)
        bad4 = lint(sqls, d4, verbose=False)
        checks.append(("undeclared retry hazard detected",
                       any("UNDECLARED retry-hazard" in b for b in bad4)))
        d5 = json.loads(json.dumps(decls))
        k1 = sorted(d5["retry_scala"])[0]
        d5["retry_scala"][k1]["class"] = "zz-bogus"
        bad5 = lint(sqls, d5, verbose=False)
        checks.append(("invalid retry class detected",
                       any("invalid class 'zz-bogus'" in b for b in bad5)))
    # planted: a declaration whose site is gone
    d6 = json.loads(json.dumps(decls))
    d6.setdefault("scala_windows", {})[
        "src/main/scala/graft/ops/Zz.scala::partitionBy(zz).orderBy(zz)"] = {
        "class": "U", "reason": "planted dead key"}
    bad6 = lint(sqls, d6, verbose=False)
    checks.append(("dead declaration detected",
                   any("DEAD declaration" in b and "Zz.scala" in b
                       for b in bad6)))
    # a frame added to a spec held in a val is its own spec: the scanner
    # must fingerprint it, and the lint must fail when it is undeclared
    held = ('object T {\n'
            '  private val ord =\n'
            '    Window.partitionBy(col("k")).orderBy(col("ts"), col("id"))\n'
            '  val a = last(col("v")).over(ord.rowsBetween(-1, 0))\n'
            '}\n')
    fps = [fp for _, _, fp, _, _ in window_sites_in(strip_comments(held),
                                                     "T.scala")]
    checks.append(("frame on a val-held spec fingerprinted",
                   "partitionBy(k).orderBy(ts,id).rowsBetween(-1,0)" in fps))
    d7 = json.loads(json.dumps(decls))
    framed = [k for k in d7.get("scala_windows", {})
              if "Joins.scala::" in k and ".rowsBetween(" in k]
    if framed:
        d7["scala_windows"].pop(framed[0])
        bad7 = lint(sqls, d7, verbose=False)
        checks.append(("undeclared frame on a val-held spec detected",
                       any("UNDECLARED window spec" in b and
                           framed[0].split("::", 1)[1] in b for b in bad7)))
    else:
        checks.append(("undeclared frame on a val-held spec detected",
                       False))
    # round-11 ADVICE: a quote or // inside s"...${ expr }..."
    # interpolation braces must re-enter code mode, not flip
    # string/comment state for the rest of the file — the scanner
    # feeds the load-bearing window/retry lints
    snippet = ('object T {\n'
               '  val msg = s"n=${df.where("a // b").count()} of ${x}"\n'
               '  val w = Window.partitionBy($"k").orderBy($"ts")\n'
               '  // a real comment\n'
               '}\n')
    st = strip_comments(snippet)
    checks.append(
        ("interpolation braces re-enter code mode",
         len(st) == len(snippet) and "Window.partitionBy" in st
         and ".count()" in st and "a real comment" not in st))
    ok = all(c for _, c in checks)
    for name, c in checks:
        print(f"[discipline selftest] {'OK' if c else 'FAIL'}: {name}")
    return ok


def main():
    try:
        sqls = json.load(open(ORACLES))
    except FileNotFoundError:
        print(f"[discipline] no {ORACLES} — run the full graft.Verify "
              "first")
        return 2
    decls = load_decls()
    if "--dump-undeclared" in sys.argv:
        dump_undeclared(sqls, decls)
        return 0
    if "--selftest" in sys.argv:
        return 0 if selftest(sqls, decls) else 1
    bad = lint(sqls, decls)
    if bad:
        print(f"[discipline] {len(bad)} violation(s)")
        return 1
    n_sw = len(decls.get("scala_windows", {}))
    n_ow = len(decls.get("oracle_windows", {}))
    n_rt = len(decls.get("retry_scala", {}))
    print(f"[discipline] OK — {n_sw} scala window specs, {n_ow} "
          f"oracle entries and {n_rt} retry-hazard sites classified; "
          "all round-on-quotient sites declared")
    return 0


if __name__ == "__main__":
    sys.exit(main())
