"""Output checks for the proteomics workloads.

Each command's output tables are read back, counted and digested. The
digest is order-independent: the sum, modulo 2**64, of a hash of each row
serialised with sorted keys, so partitioning and part-file order do not
change it. ``proteinAccessions`` is a set (the pipeline merges accessions
per USI with ``array_distinct``) and is sorted before hashing.

Every check returns a list of failure messages; an empty list is a pass.
"""

import glob
import hashlib
import json
import os

SET_FIELDS = ("proteinAccessions",)
Q_THRESHOLD = 0.01


def read_rows(table_dir):
    rows = []
    for path in sorted(glob.glob(os.path.join(table_dir, "**", "part-*"), recursive=True)):
        with open(path, encoding="utf-8") as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def digest(rows):
    total = 0
    for row in rows:
        row = dict(row)
        for k in SET_FIELDS:
            if isinstance(row.get(k), list):
                row[k] = sorted(row[k])
        line = json.dumps(row, sort_keys=True, separators=(",", ":"))
        total = (total + int.from_bytes(hashlib.sha256(line.encode()).digest()[:8], "big")) % (1 << 64)
    return "%016x" % total


def summarize(rows):
    return {"rows": len(rows), "digest": digest(rows)}


def _compare(op, got, expected):
    """Row counts and digests against the values recorded for the seed,
    or against the program's own outputs of the same run."""
    if expected is None:
        return []
    if not expected:
        return ["%s: no outputs recorded" % op]
    errs = []
    for table, want in sorted(expected.items()):
        have = got.get(table)
        if have != want:
            errs.append("%s/%s: got %s, recorded %s" % (op, table, have, want))
    return errs


def check_index(out, facts, expected, nr_psms, nr_decoys):
    """generate-index-files: archive_spectra, psm_summaries, protein_evidence."""
    tables = {t: read_rows(os.path.join(out, "idx", t))
              for t in ("archive_spectra", "psm_summaries", "protein_evidence")}
    got = {t: summarize(r) for t, r in tables.items()}
    errs = _compare("index", got, expected)
    archive = tables["archive_spectra"]
    if not archive:
        errs.append("index: archive_spectra is empty")
    usis = [r["usi"] for r in archive]
    if len(set(usis)) != len(usis):
        errs.append("index: %d duplicate USIs in archive_spectra" % (len(usis) - len(set(usis))))
    over = [r["usi"] for r in archive
            if float(r["bestSearchEngineScore"]["value"]) > Q_THRESHOLD]
    if over:
        errs.append("index: %d PSMs above q %.2f, first %s" % (len(over), Q_THRESHOLD, over[0]))
    if nr_decoys != facts["decoys"]:
        errs.append("index: nr_decoys %s, generated %d" % (nr_decoys, facts["decoys"]))
    if nr_psms != facts["psm_sets"]:
        errs.append("index: nr_psms %s, generated %d PSM sets" % (nr_psms, facts["psm_sets"]))
    return got, errs


def _valid(r):
    m, i = r.get("masses") or [], r.get("intensities")
    return (len(m) > 0 and i is not None and len(m) == len(i)
            and r.get("precursorCharge") is not None and r.get("precursorMz") is not None
            and r.get("usi") is not None and r.get("peptidoform") is not None)


def check_valid(out, expected):
    """spectra-json-check: the validated table is the valid archive rows."""
    valid = read_rows(os.path.join(out, "valid"))
    got = {"valid": summarize(valid)}
    errs = _compare("check", got, expected)
    archive = [r for r in read_rows(os.path.join(out, "idx", "archive_spectra")) if _valid(r)]
    if sorted(r["usi"] for r in valid) != sorted(r["usi"] for r in archive):
        errs.append("check: %d validated rows, %d valid archive rows" % (len(valid), len(archive)))
    return got, errs


def _mgf_records(mgf_dir):
    """MGF records as dicts of their lines, so they digest like rows."""
    records = []
    for path in glob.glob(os.path.join(mgf_dir, "**", "part-*"), recursive=True):
        with open(path, encoding="utf-8") as f:
            for block in f.read().split("BEGIN IONS")[1:]:
                records.append({"lines": block.split("END IONS")[0].strip().splitlines()})
    return records


def check_mgf(out, expected):
    """generate-mgf-files: one MGF record and one sidecar index per
    validated row; the sidecar index is 0..n-1."""
    import pyarrow.parquet as pq

    valid = read_rows(os.path.join(out, "valid"))
    records = _mgf_records(os.path.join(out, "mgf"))
    side = pq.read_table(os.path.join(out, "mgf.index")).to_pylist()
    got = {"mgf": summarize(records), "index": summarize(side)}
    errs = _compare("mgf", got, expected)
    if len(records) != len(valid):
        errs.append("mgf: %d MGF records, %d validated rows" % (len(records), len(valid)))
    if sorted(r["index"] for r in side) != list(range(len(valid))):
        errs.append("mgf: sidecar index is not 0..%d" % (len(valid) - 1))
    if sorted(r["usi"] for r in side) != sorted(r["usi"] for r in valid):
        errs.append("mgf: sidecar USIs differ from the validated rows")
    return got, errs


def check_inference(out, expected):
    """perform-inference --native-cluster over the validated spectra: one
    representative per cluster; the cluster id is the smallest member
    index, so it names a spectrum at or before the representative in USI
    order."""
    reps = read_rows(os.path.join(out, "inf", "consensus_spectra"))
    got = {"consensus_spectra": summarize(reps)}
    errs = _compare("inference", got, expected)
    n = len(read_rows(os.path.join(out, "valid")))
    clusters = [r.get("clusterId") for r in reps]
    if not reps:
        errs.append("inference: no consensus spectra")
    if len(set(clusters)) != len(clusters):
        errs.append("inference: a cluster has more than one representative")
    bad = [r["usi"] for r in reps
           if r.get("clusterId") is None or not 0 <= r["clusterId"] <= r["index"] < n]
    if bad:
        errs.append("inference: %d representatives outside their cluster, first %s" % (len(bad), bad[0]))
    return got, errs
