"""Seeded input generator for the proteomics workloads.

Every input the program reads is written here from a seed; the same seed
and sizes give byte-identical files.

* ``assay_chain``: one mzIdentML result file (10% decoy identifications)
  whose SpectraData entries point at a few MGF fraction files, addressed
  by ``index=N`` (0-based MGF block order).
* ``project_many_files``: many small mzIdentML files over a few mzML runs,
  addressed by ``scan=N``. A stated share of each run's spectra is
  identified in two files with the same peptide and charge, so those PSMs
  merge into one PSM set.
* ``tiny``: a one-spectrum archive JSON file, the input of the set-up
  probe (``spectra-json-check`` on a trivial input).

Shapes follow the program's own demo fixtures (DemoFixtures.mzidFile,
multiFileFixture and mzML).
"""

import base64
import json
import os
import random
import struct

AA = "ACDEFGHIKLMNPQRSTVWY"
MONO = {
    "G": 57.02146, "A": 71.03711, "S": 87.03203, "P": 97.05276,
    "V": 99.06841, "T": 101.04768, "C": 103.00919, "L": 113.08406,
    "I": 113.08406, "N": 114.04293, "D": 115.02694, "Q": 128.05858,
    "K": 128.09496, "E": 129.04259, "M": 131.04049, "H": 137.05891,
    "F": 147.06841, "R": 156.10111, "Y": 163.06333, "W": 186.07931,
}
WATER = 18.010565
PROTON = 1.007276
OXIDATION = 15.994915
MASCOT = "MS:1001171"

# Sizes of one input set per workload (listed in README.md). Both put
# about 15k PSMs in a run, the low end of the PSMs per project that
# SURVEY.md records (15k-800k). Larger inputs would not fit the time the
# benchmark may take. The decoy share is part of the workload definition;
# the rank-2 and cross-file overlap shares are not taken from recorded
# traffic: they are set so that the rank filter and the PSM-set merge
# have real work.
# Changing the sizes changes the outputs recorded for the default seed:
# re-record expected.json with `run.py --record`.
SIZES = {
    "assay_chain": {
        "fractions": 4, "spectra_per_fraction": 3150, "decoy_share": 0.10,
        "peptides": 4000, "proteins": 1500, "rank2_share": 0.2,
    },
    "project_many_files": {
        "runs": 4, "spectra_per_run": 3120, "files_per_run": 6,
        "overlap_share": 0.25, "decoy_share": 0.10, "peptides": 3000,
        "proteins": 1200,
    },
}


def _peptide(rng):
    n = rng.randint(7, 18)
    body = "".join(rng.choice(AA) for _ in range(n - 1))
    return body + rng.choice("KR")


def _mods(rng, seq):
    """Positioned UNIMOD oxidation on some methionines (1-based)."""
    return {i + 1: "UNIMOD:35" for i, a in enumerate(seq) if a == "M" and rng.random() < 0.5}


def _mz(seq, mods, charge):
    mass = sum(MONO[a] for a in seq) + WATER + OXIDATION * len(mods)
    return (mass + charge * PROTON) / charge


def _fragments(seq):
    """Singly charged b and y ion m/z of a peptide, the shared peak
    skeleton that makes spectra of one peptide similar."""
    out, b = [], PROTON
    for a in seq[:-1]:
        b += MONO[a]
        out.append(b)
    total = sum(MONO[a] for a in seq) + WATER + PROTON
    out += [total - x + PROTON for x in out]
    return sorted(out)


def _peaks(rng, seq, n_noise=8):
    mz = [x + rng.uniform(-0.004, 0.004) for x in _fragments(seq)]
    inten = [round(rng.uniform(200.0, 1000.0), 2) for _ in mz]
    for _ in range(n_noise):
        mz.append(rng.uniform(100.0, 1500.0))
        inten.append(round(rng.uniform(5.0, 60.0), 2))
    pairs = sorted(zip(mz, inten))
    return [round(m, 4) for m, _ in pairs], [i for _, i in pairs]


class _Pool:
    """Peptides and their target/decoy protein evidence."""

    def __init__(self, rng, n_peptides, n_proteins):
        seqs = set()
        while len(seqs) < n_peptides:
            seqs.add(_peptide(rng))
        self.targets = sorted(seqs)
        self.mods = {s: _mods(rng, s) for s in self.targets}
        self.proteins = {
            s: sorted({"sp|P%05d" % rng.randrange(n_proteins) for _ in range(rng.choice((1, 1, 2)))})
            for s in self.targets
        }
        self.decoys = {s: s[::-1][1:] + s[-1] for s in self.targets}
        self.decoy_proteins = {s: ["DECOY_" + p for p in self.proteins[s]] for s in self.targets}


def _score(rng, kind):
    if kind == "good":
        return round(rng.gauss(48.0, 8.0), 3)
    return round(rng.gauss(18.0, 5.0), 3)


class _Mzid:
    """Accumulates one mzIdentML document."""

    def __init__(self):
        self.peps, self.evs, self.dbs, self.results = {}, {}, {}, []

    def peptide(self, seq, mods):
        key = (seq, tuple(sorted(mods.items())))
        if key not in self.peps:
            self.peps[key] = "pep%d" % len(self.peps)
        return self.peps[key]

    def evidence(self, pep_id, accessions, decoy):
        refs = []
        for acc in accessions:
            if acc not in self.dbs:
                self.dbs[acc] = "dbs%d" % len(self.dbs)
            key = (pep_id, acc)
            if key not in self.evs:
                self.evs[key] = ("ev%d" % len(self.evs), decoy)
            refs.append(self.evs[key][0])
        return refs

    def render(self, spectra_data):
        out = ['<?xml version="1.0" encoding="UTF-8"?>',
               '<MzIdentML xmlns="http://psidev.info/psi/pi/mzIdentML/1.1">',
               ' <SequenceCollection>']
        for acc, i in sorted(self.dbs.items(), key=lambda kv: int(kv[1][3:])):
            out.append('  <DBSequence id="%s" accession="%s"/>' % (i, acc))
        for (seq, mods), i in sorted(self.peps.items(), key=lambda kv: int(kv[1][3:])):
            out.append('  <Peptide id="%s"><PeptideSequence>%s</PeptideSequence>' % (i, seq))
            for loc, acc in mods:
                out.append('   <Modification location="%d" monoisotopicMassDelta="%.6f">'
                           '<cvParam accession="%s" name="Oxidation" cvRef="UNIMOD"/></Modification>'
                           % (loc, OXIDATION, acc))
            out.append('  </Peptide>')
        for (pep_id, acc), (ev_id, decoy) in sorted(self.evs.items(), key=lambda kv: int(kv[1][0][2:])):
            out.append('  <PeptideEvidence id="%s" peptide_ref="%s" dBSequence_ref="%s" isDecoy="%s"/>'
                       % (ev_id, pep_id, self.dbs[acc], "true" if decoy else "false"))
        out += [' </SequenceCollection>', ' <DataCollection><Inputs>']
        for sd_id, location, fmt_acc, fmt_name in spectra_data:
            out.append('  <SpectraData id="%s" location="%s">' % (sd_id, location))
            out.append('   <SpectrumIDFormat><cvParam accession="%s" name="%s"/></SpectrumIDFormat>'
                       % (fmt_acc, fmt_name))
            out.append('  </SpectraData>')
        out += [' </Inputs>', ' <AnalysisData>', '  <SpectrumIdentificationList>']
        for r, (spectrum_id, sd_ref, items) in enumerate(self.results):
            out.append('   <SpectrumIdentificationResult id="r%d" spectrumID="%s" spectraData_ref="%s">'
                       % (r, spectrum_id, sd_ref))
            for sii_id, rank, charge, exp_mz, calc_mz, pep_id, ev_refs, score in items:
                out.append('    <SpectrumIdentificationItem id="%s" rank="%d" chargeState="%d"'
                           ' experimentalMassToCharge="%.5f" calculatedMassToCharge="%.5f" peptide_ref="%s">'
                           % (sii_id, rank, charge, exp_mz, calc_mz, pep_id))
                for ev in ev_refs:
                    out.append('     <PeptideEvidenceRef peptideEvidence_ref="%s"/>' % ev)
                out.append('     <cvParam accession="%s" name="Mascot:score" value="%.3f"/>' % (MASCOT, score))
                out.append('    </SpectrumIdentificationItem>')
            out.append('   </SpectrumIdentificationResult>')
        out += ['  </SpectrumIdentificationList>', ' </AnalysisData>', ' </DataCollection>',
                '</MzIdentML>', '']
        return "\n".join(out)


def _identify(rng, pool, decoy_share):
    """One identification: (sequence, mods, accessions, isDecoy, score)."""
    seq = rng.choice(pool.targets)
    mods = pool.mods[seq]
    if rng.random() < decoy_share:
        return seq, pool.decoys[seq], mods, pool.decoy_proteins[seq], True, _score(rng, "bad")
    kind = "good" if rng.random() < 0.75 else "bad"
    return seq, seq, mods, pool.proteins[seq], False, _score(rng, kind)


def _write(path, text):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def assay_chain(seed, out_dir, sizes=None):
    """One mzIdentML over MGF fractions; returns the facts the checks use."""
    p = dict(SIZES["assay_chain"], **(sizes or {}))
    rng = random.Random("assay_chain:%d" % seed)
    pool = _Pool(rng, p["peptides"], p["proteins"])
    spectra_dir = os.path.join(out_dir, "spectra")
    os.makedirs(spectra_dir, exist_ok=True)
    doc = _Mzid()
    decoys = psms = 0
    sds = []
    for f in range(p["fractions"]):
        name = "fraction%d.mgf" % (f + 1)
        sd_id = "sd%d" % (f + 1)
        sds.append((sd_id, "file:///data/%s" % name, "MS:1000774",
                    "multiple peak list nativeID format"))
        blocks = []
        for i in range(p["spectra_per_fraction"]):
            source, seq, mods, accs, decoy, score = _identify(rng, pool, p["decoy_share"])
            charge = rng.choice((2, 2, 3))
            calc = _mz(seq, mods, charge)
            exp = calc + rng.uniform(-0.002, 0.002)
            masses, inten = _peaks(rng, source)
            blocks.append("BEGIN IONS\nTITLE=%s.%d\nPEPMASS=%.5f\nCHARGE=%d+\nRTINSECONDS=%.2f\n%s\nEND IONS\n"
                          % (name, i, exp, charge, 60.0 + i * 0.7,
                             "\n".join("%.4f\t%.2f" % mi for mi in zip(masses, inten))))
            pep_id = doc.peptide(seq, mods)
            items = [("sii_%d_%d" % (f, i), 1, charge, exp, calc, pep_id,
                      doc.evidence(pep_id, accs, decoy), score)]
            decoys += decoy
            if rng.random() < p["rank2_share"]:
                _, seq2, mods2, accs2, decoy2, _ = _identify(rng, pool, p["decoy_share"])
                pep2 = doc.peptide(seq2, mods2)
                items.append(("sii_%d_%d_2" % (f, i), 2, charge, exp, _mz(seq2, mods2, charge), pep2,
                              doc.evidence(pep2, accs2, decoy2), round(score - abs(rng.gauss(6.0, 3.0)), 3)))
                decoys += decoy2
            psms += len(items)
            doc.results.append(("index=%d" % i, sd_id, items))
        _write(os.path.join(spectra_dir, name), "".join(blocks))
    mzid = os.path.join(out_dir, "assay.mzid")
    _write(mzid, doc.render(sds))
    return {"mzid": [mzid], "spectra": spectra_dir, "psms": psms, "psm_sets": psms,
            "decoys": decoys, "spectra_count": p["fractions"] * p["spectra_per_fraction"]}


def _b64(values):
    return base64.b64encode(struct.pack("<%dd" % len(values), *values)).decode("ascii")


def _mzml(spectra):
    out = ['<?xml version="1.0" encoding="UTF-8"?>',
           '<mzML xmlns="http://psi.hupo.org/ms/mzml">',
           ' <run><spectrumList count="%d">' % len(spectra)]
    for i, (scan, mz, charge, rt, masses, inten) in enumerate(spectra):
        out.append('  <spectrum index="%d" id="controllerType=0 controllerNumber=1 scan=%d">' % (i, scan))
        out.append('   <cvParam accession="MS:1000511" value="2"/>')
        out.append('   <cvParam accession="MS:1000016" value="%.2f"/>' % rt)
        out.append('   <precursorList><precursor><selectedIonList><selectedIon>')
        out.append('    <cvParam accession="MS:1000744" value="%.5f"/>' % mz)
        out.append('    <cvParam accession="MS:1000041" value="%d"/>' % charge)
        out.append('   </selectedIon></selectedIonList></precursor></precursorList>')
        out.append('   <binaryDataArrayList>')
        out.append('    <binaryDataArray><cvParam accession="MS:1000523"/><cvParam accession="MS:1000514"/>'
                   '<binary>%s</binary></binaryDataArray>' % _b64(masses))
        out.append('    <binaryDataArray><cvParam accession="MS:1000523"/><cvParam accession="MS:1000515"/>'
                   '<binary>%s</binary></binaryDataArray>' % _b64(inten))
        out.append('   </binaryDataArrayList>')
        out.append('  </spectrum>')
    out += [' </spectrumList></run>', '</mzML>', '']
    return "\n".join(out)


def project_many_files(seed, out_dir, sizes=None):
    """Many mzIdentML files over mzML runs with a cross-file overlap."""
    p = dict(SIZES["project_many_files"], **(sizes or {}))
    rng = random.Random("project_many_files:%d" % seed)
    pool = _Pool(rng, p["peptides"], p["proteins"])
    spectra_dir = os.path.join(out_dir, "spectra")
    os.makedirs(spectra_dir, exist_ok=True)
    mzids, decoys, psms, shared = [], 0, 0, 0
    per_file = p["spectra_per_run"] // p["files_per_run"]
    for r in range(p["runs"]):
        run = "run%02d.mzML" % (r + 1)
        spectra, idents = [], []
        for i in range(p["spectra_per_run"]):
            ident = _identify(rng, pool, p["decoy_share"])
            source, seq, mods = ident[0], ident[1], ident[2]
            charge = rng.choice((2, 2, 3))
            calc = _mz(seq, mods, charge)
            exp = calc + rng.uniform(-0.002, 0.002)
            masses, inten = _peaks(rng, source)
            spectra.append((i + 1, exp, charge, 30.0 + i * 0.9, masses, inten))
            idents.append((ident, charge, exp, calc))
        _write(os.path.join(spectra_dir, run), _mzml(spectra))
        # file k owns a contiguous block of the run (the last file also the
        # remainder); the first overlap_share of the NEXT file's block is
        # also identified here
        for k in range(p["files_per_run"]):
            last = k + 1 == p["files_per_run"]
            lo = k * per_file
            hi = p["spectra_per_run"] if last else lo + per_file
            extra = 0 if last else int(per_file * p["overlap_share"])
            doc = _Mzid()
            for i in range(lo, hi + extra):
                (_, seq, mods, accs, decoy, score), charge, exp, calc = idents[i]
                if i >= hi:
                    shared += 1
                    score = round(score + rng.uniform(-3.0, 3.0), 3)
                else:
                    decoys += decoy
                pep_id = doc.peptide(seq, mods)
                doc.results.append(("controllerType=0 controllerNumber=1 scan=%d" % (i + 1), "sd1", [
                    ("sii_%d" % i, 1, charge, exp, calc, pep_id, doc.evidence(pep_id, accs, decoy), score)]))
                psms += 1
            path = os.path.join(out_dir, "run%02d_part%d.mzid" % (r + 1, k + 1))
            _write(path, doc.render([("sd1", "file:///data/%s" % run, "MS:1001530", "mzML unique identifier")]))
            mzids.append(path)
    # a spectrum identified in two files is ONE PSM set: decoys count sets
    n = p["runs"] * p["spectra_per_run"]
    return {"mzid": mzids, "spectra": spectra_dir, "psms": psms, "psm_sets": n,
            "decoys": decoys, "shared_spectra": shared, "spectra_count": n}


def tiny(out_dir):
    """A one-spectrum archive JSON table for the set-up probe."""
    os.makedirs(out_dir, exist_ok=True)
    row = {"usi": "mzspec:PXD000000:tiny:index:1", "peptidoform": "PEPTIDEK/2",
           "peptideSequence": "PEPTIDEK", "precursorMz": 465.73, "precursorCharge": 2,
           "msLevel": 2, "isDecoy": False, "isValid": True,
           "masses": [100.0, 200.0], "intensities": [10.0, 20.0]}
    _write(os.path.join(out_dir, "part-00000.json"), json.dumps(row, sort_keys=True) + "\n")
    return out_dir


GENERATORS = {"assay_chain": assay_chain, "project_many_files": project_many_files}
