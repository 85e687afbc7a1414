#!/usr/bin/env python3
"""Diff two TxLog output trees' _log/ dirs and tx files after masking
commit instants, generated file names and the run root."""
import os, re, sys, difflib

def log_files(root):
    out = []
    for d, dirs, files in os.walk(root):
        dirs.sort()
        rel = os.path.relpath(d, root)
        in_log = os.path.basename(d) == "_log"
        in_txn = os.path.basename(d) == "_txn"
        for f in sorted(files):
            if f.startswith("."):
                continue  # temp files
            if in_log or (in_txn and f.startswith("tx-")):
                out.append(os.path.join(rel, f))
    return out

PATS = [
    (re.compile(r"part-[0-9a-f]{8}-\d+\.parquet"), "F"),
    (re.compile(r"_dv/v\d+-[0-9a-f]{8}"), "DV"),
    (re.compile(r"tx-[0-9a-f-]{12}\.txt"), "TX"),
]

def masker(root):
    tok = {}
    def sub_name(kind):
        def f(m):
            k = (kind, m.group(0))
            if k not in tok:
                tok[k] = f"<{kind}{sum(1 for x in tok if x[0] == kind)}>"
            return tok[k]
        return f
    def mask(text):
        text = text.replace(os.path.realpath(root), "<ROOT>")
        text = re.sub(r"(^|\n)(\d+\t)?ts\t\d+", r"\1\2ts\t<T>", text)
        for pat, kind in PATS:
            text = pat.sub(sub_name(kind), text)
        return text
    return mask

def tree(root):
    m = masker(root)
    files = log_files(root)
    # names are masked by first appearance, walking the deterministic
    # _log/ files first (their xref lines name the tx files), then the
    # tx files in masked-name order
    logs = [f for f in files if "/_txn/" not in "/" + f]
    txs = [f for f in files if "/_txn/" in "/" + f]
    out = {m(f): m(open(os.path.join(root, f), encoding="utf-8").read())
           for f in logs}
    for f in sorted(txs, key=m):
        out[m(f)] = m(open(os.path.join(root, f), encoding="utf-8").read())
    return out

a, b = tree(sys.argv[1]), tree(sys.argv[2])
bad = 0
for k in sorted(set(a) | set(b)):
    if k not in a or k not in b:
        print("ONLY IN", "A" if k in a else "B", k); bad += 1
    elif a[k] != b[k]:
        bad += 1
        print("DIFF", k)
        sys.stdout.writelines(difflib.unified_diff(
            a[k].splitlines(True), b[k].splitlines(True), "A/" + k, "B/" + k))
print(f"{len(a)} vs {len(b)} log files compared, {bad} differ")
sys.exit(1 if bad else 0)
