"""Seeded ingest inputs: PubChem-shaped ``.sdf.gz`` archives and ZINC-style
TSV tranches, with about 1% malformed input of named kinds.

The expected output is computed here from the values written, never by
calling the engine's parser: each accepted input becomes the record the
reference semantics promise (``>  <TAG>`` values stripped, later duplicate
tags win, empty values dropped from metadata, rows with too few columns or
an empty SMILES rejected), and all of them fold into one order-insensitive
digest that the read-back check recomputes from the NDJSON output.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import shutil
from dataclasses import asdict, dataclass, field
from pathlib import Path

import numpy as np

SDF_SOURCE = "pubchem"
SMILES_SOURCE = "zinc"
CID_TAG = "PUBCHEM_COMPOUND_CID"
SMILES_TAG = "PUBCHEM_OPENEYE_ISO_SMILES"

SDF_KINDS = (
    "missing_cid",
    "crlf",
    "duplicate_tag",
    "empty_value",
    "gt_in_value",
)
# Per file, not per record: the last record of the file has no "$$$$".
SDF_FILE_KIND = "no_final_terminator"
ZINC_KINDS = ("too_few_columns", "empty_smiles", "blank_line")
MALFORMED_SHARE = 0.01

_FRAGMENTS = (
    "C", "CC", "O", "N", "c1ccccc1", "C(=O)O", "CCN", "Cl", "F", "C#N",
    "[C@@H](O)", "[nH]1cccc1", "S(=O)(=O)", "C=C", "CO", "Br", "c1ccncc1",
)
_ELEMENTS = ("C", "C", "C", "C", "N", "O", "O", "S", "Cl", "F")
_FORMAT_VERSION = 1


def record_key(source, identifier, smiles, metadata) -> int:
    """64-bit hash of one output record; metadata order does not matter."""
    blob = "\x1f".join([source, identifier, smiles, *(f"{k}\x1e{v}" for k, v in sorted(metadata.items()))])
    return int.from_bytes(hashlib.blake2b(blob.encode(), digest_size=8).digest(), "big")


class Digest:
    """Order-insensitive digest: count and sum of record keys mod 2**64."""

    def __init__(self) -> None:
        self.count = 0
        self.total = 0

    def add(self, source, identifier, smiles, metadata) -> None:
        self.count += 1
        self.total = (self.total + record_key(source, identifier, smiles, metadata)) % (1 << 64)

    def hexdigest(self) -> str:
        return f"{self.count}:{self.total:016x}"


@dataclass
class Expected:
    """What one source's ingest must produce."""

    records: int = 0
    rejected: int = 0
    inputs: int = 0
    digest: str = ""
    malformed: dict[str, int] = field(default_factory=dict)


@dataclass
class IngestInputs:
    sdf_glob: str
    zinc_glob: str
    sdf: Expected
    zinc: Expected


def _smiles_pool(rng: np.random.Generator, size: int) -> list[str]:
    picks = rng.integers(0, len(_FRAGMENTS), (size, 7)).tolist()
    lengths = rng.integers(2, 8, size).tolist()
    return ["".join(_FRAGMENTS[j] for j in row[:n]) for row, n in zip(picks, lengths)]


def _molblock_pool(rng: np.random.Generator, size: int) -> list[str]:
    """Connection tables (8-30 atoms); the parser skips them, the scan does not."""
    pool = []
    for atoms in rng.integers(8, 31, size).tolist():
        xy = rng.uniform(-9, 9, (atoms, 2)).tolist()
        elems = rng.integers(0, len(_ELEMENTS), atoms).tolist()
        orders = rng.integers(1, 3, atoms).tolist()
        lines = [
            f"{atoms:3d}{atoms - 1:3d}  0     0  0  0  0  0  0999 V2000",
            *(
                f"{x:10.4f}{y:10.4f}{0:10.4f} {_ELEMENTS[e]:<3} 0  0  0  0  0  0  0  0  0  0  0  0"
                for (x, y), e in zip(xy, elems)
            ),
            *(f"{i:3d}{i + 1:3d}{orders[i]:3d}  0  0  0  0" for i in range(1, atoms)),
            "M  END",
        ]
        pool.append("\n".join(lines))
    return pool


def _kinds(rng: np.random.Generator, n: int, kinds: tuple[str, ...]) -> list[str | None]:
    """About MALFORMED_SHARE of ``n`` inputs get a malformed kind."""
    hit = (rng.random(n) < MALFORMED_SHARE).tolist()
    pick = rng.integers(0, len(kinds), n).tolist()
    return [kinds[k] if h else None for h, k in zip(hit, pick)]


def _sdf_record(cid: int, smiles: str, molblock: str, props: list, kind: str | None):
    """Return (record text without terminator, expected record or None)."""
    name = f"{props[0]}-{cid}-oate"
    if kind == "gt_in_value":
        name = f"N->O adduct of {name}"
    tags = [
        (CID_TAG, str(cid)),
        ("PUBCHEM_IUPAC_NAME", name),
        (SMILES_TAG, smiles),
        ("PUBCHEM_MOLECULAR_FORMULA", f"C{props[1]}H{props[2]}O{props[3]}"),
        ("PUBCHEM_MOLECULAR_WEIGHT", f"{props[4]:.3f}"),
        ("PUBCHEM_XLOGP3", f"{props[5]:.1f}"),
        ("PUBCHEM_CACTVS_HBOND_DONOR", str(props[6])),
        ("PUBCHEM_CACTVS_HBOND_ACCEPTOR", str(props[7])),
        ("PUBCHEM_IUPAC_INCHIKEY", f"{props[8]}-UHFFFAOYSA-N"),
        ("PUBCHEM_COORDINATE_TYPE", "1\n5\n255"),
    ]
    if kind == "missing_cid":
        tags = tags[1:]
    elif kind == "duplicate_tag":
        tags.insert(5, ("PUBCHEM_IUPAC_NAME", f"renamed-{cid}"))
    elif kind == "empty_value":
        tags[5] = ("PUBCHEM_XLOGP3", "")
    body = "".join(f">  <{t}>\n{v}\n\n" for t, v in tags)
    text = f"{cid}\n  -OEChem-0101010000 2D\n\n{molblock}\n{body}"
    if kind == "crlf":
        text = text.replace("\n", "\r\n")
    values = dict(tags)  # later duplicates win, as in a dict update
    if CID_TAG not in values:
        return text, None
    metadata = {k: v for k, v in values.items() if k not in (CID_TAG, SMILES_TAG) and v != ""}
    return text, (SDF_SOURCE, str(cid), smiles, metadata)


def _write_sdf(rng: np.random.Generator, out: Path, n_records: int, n_files: int) -> Expected:
    out.mkdir(parents=True)
    exp = Expected(malformed={k: 0 for k in (*SDF_KINDS, SDF_FILE_KIND)})
    digest = Digest()
    blocks = _molblock_pool(rng, 256)
    smiles = _smiles_pool(rng, 4096)
    per_file = n_records // n_files
    cids = (int(rng.integers(1, 10_000_000)) + np.cumsum(rng.integers(1, 4, per_file * n_files))).tolist()
    stems = ("methyl", "ethyl", "propyl", "phenyl")
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    for f in range(n_files):
        n = per_file
        kinds = _kinds(rng, n, SDF_KINDS)
        block_ix = rng.integers(0, len(blocks), n).tolist()
        smiles_ix = rng.integers(0, len(smiles), n).tolist()
        keys = ["".join(row) for row in letters[rng.integers(0, 26, (n, 14))].tolist()]
        props = zip(
            rng.integers(0, len(stems), n).tolist(),
            rng.integers(2, 31, n).tolist(),
            rng.integers(2, 61, n).tolist(),
            rng.integers(0, 7, n).tolist(),
            rng.uniform(30, 600, n).tolist(),
            rng.uniform(-3, 7, n).tolist(),
            rng.integers(0, 6, n).tolist(),
            rng.integers(0, 10, n).tolist(),
            keys,
        )
        open_end = bool(rng.random() < 0.25)  # one file in four ends without "$$$$"
        chunks = []
        for i, p in enumerate(props):
            kind = kinds[i]
            p = [stems[p[0]], *p[1:]]
            text, rec = _sdf_record(cids[f * per_file + i], smiles[smiles_ix[i]], blocks[block_ix[i]], p, kind)
            last = i == n - 1
            term = "" if (last and open_end) else ("$$$$\r\n" if kind == "crlf" else "$$$$\n")
            chunks.append(text + term)
            if kind:
                exp.malformed[kind] += 1
            if last and open_end:
                exp.malformed[SDF_FILE_KIND] += 1
            exp.inputs += 1
            if rec is None:
                exp.rejected += 1
            else:
                exp.records += 1
                digest.add(*rec)
        with gzip.open(out / f"Compound_{f:09d}.sdf.gz", "wt", compresslevel=1, newline="") as fh:
            fh.write("".join(chunks))
    exp.digest = digest.hexdigest()
    return exp


def _write_zinc(rng: np.random.Generator, out: Path, n_rows: int, n_files: int) -> Expected:
    out.mkdir(parents=True)
    exp = Expected(malformed={k: 0 for k in ZINC_KINDS})
    digest = Digest()
    smiles = _smiles_pool(rng, 4096)
    per_file = n_rows // n_files
    ids = (int(rng.integers(1, 10**9)) + np.cumsum(rng.integers(1, 6, per_file * n_files))).tolist()
    for f in range(n_files):
        tranche = f"H{f:02d}P{int(rng.integers(100, 500))}"
        fname = f"{tranche}.tsv"
        n = per_file
        kinds = _kinds(rng, n, ZINC_KINDS)
        smiles_ix = rng.integers(0, len(smiles), n).tolist()
        mwts = rng.uniform(100, 500, n).tolist()
        logps = rng.uniform(-2, 6, n).tolist()
        lines = []
        for i in range(n):
            kind = kinds[i]
            smi, ident = smiles[smiles_ix[i]], f"ZINC{ids[f * per_file + i]:012d}"
            mwt, logp = f"{mwts[i]:.2f}", f"{logps[i]:.2f}"
            if kind:
                exp.malformed[kind] += 1
            if kind == "blank_line":
                lines.append("\n")
                continue
            exp.inputs += 1
            if kind == "too_few_columns":
                lines.append(f"{smi}\n")
                exp.rejected += 1
            elif kind == "empty_smiles":
                lines.append(f"\t{ident}\t{mwt}\t{logp}\t{tranche}\n")
                exp.rejected += 1
            else:
                lines.append(f"{smi}\t{ident}\t{mwt}\t{logp}\t{tranche}\n")
                exp.records += 1
                metadata = {"column_2": mwt, "column_3": logp, "column_4": tranche, "source_file": fname}
                digest.add(SMILES_SOURCE, ident, smi, metadata)
        (out / fname).write_text("".join(lines), encoding="utf-8")
    exp.digest = digest.hexdigest()
    return exp


def make_inputs(
    cache: Path, seed: int, *, sdf_records: int, sdf_files: int, zinc_rows: int, zinc_files: int, keep: int = 2
) -> IngestInputs:
    """Generate (or reuse) the inputs for ``seed`` under ``cache``.

    At most ``keep`` seeds stay cached; older ones are removed.
    """
    tag = f"v{_FORMAT_VERSION}-{sdf_records}x{sdf_files}-{zinc_rows}x{zinc_files}"
    root = cache / f"seed-{seed}-{tag}"
    meta = root / "expected.json"
    if meta.exists():
        saved = json.loads(meta.read_text())
        sdf, zinc = Expected(**saved["sdf"]), Expected(**saved["zinc"])
    else:
        if root.exists():
            shutil.rmtree(root)
        rng = np.random.default_rng(seed)
        sdf = _write_sdf(rng, root / "sdf", sdf_records, sdf_files)
        zinc = _write_zinc(rng, root / "zinc", zinc_rows, zinc_files)
        meta.write_text(json.dumps({"sdf": asdict(sdf), "zinc": asdict(zinc)}))
        others = sorted(
            (p for p in cache.iterdir() if p.is_dir() and p != root), key=lambda p: p.stat().st_mtime
        )
        for old in others[: max(0, len(others) - (keep - 1))]:
            shutil.rmtree(old, ignore_errors=True)
    return IngestInputs(str(root / "sdf" / "*.sdf.gz"), str(root / "zinc" / "*.tsv"), sdf, zinc)


def read_back(out_dir: Path) -> tuple[Digest, int, int]:
    """Digest the NDJSON data files under ``out_dir`` without the engine.

    Returns ``(digest, data_files, data_bytes)``. ZINC's ``source_file``
    provenance is a URI; only its file name is compared.
    """
    digest = Digest()
    files = sorted(out_dir.rglob("part-*"))
    for path in files:
        with gzip.open(path, "rt", encoding="utf-8") as fh:
            for line in fh:
                rec = json.loads(line)
                meta = dict(rec.get("metadata") or {})
                if "source_file" in meta:
                    meta["source_file"] = meta["source_file"].rsplit("/", 1)[-1]
                digest.add(rec["source"], rec["identifier"], rec["smiles"], meta)
    return digest, len(files), sum(p.stat().st_size for p in files)
