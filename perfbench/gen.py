"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. The program under test only ever sees the files written here.

- `experiment`: a 10x Genomics experiment (matrix.mtx, barcodes.tsv,
  features.tsv per sample) with an ambient barcode pool (`AMB...`
  barcodes), real cells that express mitochondrial genes (`CELL...`
  barcodes, the planted truth the checks compare to), and a fixed gene
  vocabulary.
- `stream_docs`: a document corpus (the standing dedup index) and a
  delta stream cut into fixed-size micro-batches, with planted exact
  duplicates of corpus documents, near duplicates, within-stream
  duplicates and fresh documents, and event time that advances past the
  dedup horizon so the watermark evicts state.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- ingest

N_SAMPLES = 1         # one doublet-model chain per sample sets the op's wall
N_AMBIENT = 1500      # ambient barcodes per sample: few genes, total <= 100
N_REAL = 200          # real cells per sample: hundreds of genes, total >> 100
N_GENES = 2000
N_MT = 13             # MT- genes at the head of the vocabulary


def experiment(root, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    genes = [(f"ENSG{g:05d}", f"MT-G{g:02d}" if g < N_MT else f"Gene{g}")
             for g in range(N_GENES)]
    # ambient profile: a broad Zipf-like distribution over all genes
    amb_w = 1.0 / np.arange(1, N_GENES + 1) ** 0.8
    amb_w = rng.permutation(amb_w / amb_w.sum())
    for s in range(N_SAMPLES):
        name = f"s{s + 1}"
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        cells = []  # (barcode, gene_idx array, count array)
        for i in range(N_AMBIENT):
            k = int(rng.integers(2, 6))
            g = rng.choice(N_GENES, size=k, replace=False, p=amb_w)
            cells.append((f"AMB{s}{i:06d}", g, rng.integers(1, 3, size=k)))
        # real cells: one of 8 cell types, each with its own 300-gene
        # program, plus 2-4 MT genes at a few percent of the total
        types = [rng.choice(np.arange(N_MT, N_GENES), size=300, replace=False)
                 for _ in range(8)]
        for i in range(N_REAL):
            prog = types[int(rng.integers(0, 8))]
            k = int(rng.integers(120, 260))
            g = rng.choice(prog, size=k, replace=False)
            c = rng.integers(2, 12, size=k)
            mt = rng.choice(N_MT, size=int(rng.integers(2, 5)), replace=False)
            g = np.concatenate([g, mt])
            c = np.concatenate([c, rng.integers(1, 6, size=len(mt))])
            cells.append((f"CELL{s}{i:06d}", g, c))
        order = rng.permutation(len(cells))
        cells = [cells[i] for i in order]
        lines = []
        for ci, (_, g, c) in enumerate(cells):
            for gi, ct in sorted(zip(g.tolist(), c.tolist())):
                lines.append(f"{gi + 1} {ci + 1} {ct}")
        with open(os.path.join(d, "matrix.mtx"), "w") as f:
            f.write("%%MatrixMarket matrix coordinate integer general\n")
            f.write(f"{N_GENES} {len(cells)} {len(lines)}\n")
            f.write("\n".join(lines) + "\n")
        with open(os.path.join(d, "barcodes.tsv"), "w") as f:
            f.write("\n".join(b for b, _, _ in cells) + "\n")
        with open(os.path.join(d, "features.tsv"), "w") as f:
            f.write("\n".join(f"{a}\t{b}" for a, b in genes) + "\n")


# ---------------------------------------------------------------- stream

WORDS = ("the a data table row column key value join hash sort merge scan "
         "filter group agg window order part line customer query spark "
         "stream batch vector fast slow big small").split()
US = 1_000_000


def _texts(rng, n, dup_frac=0.05):
    """Random-word documents; about `dup_frac` of them are copies of an
    earlier document with a ' dup' suffix (near-duplicate chains)."""
    out = []
    for i in range(n):
        if i > 10 and rng.random() < dup_frac:
            out.append(out[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            out.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return out


N_CORPUS = 5000
BATCH_DOCS = 500
N_BATCHES = 45
BATCH_MINUTES = 20    # event time per batch; the dedup horizon is 60 min


def stream_docs(d, seed):
    """Writes corpus.parquet (doc_id, text) and delta.parquet (batch,
    ts, doc_id, text). Delta ids exceed corpus ids and grow with arrival
    order, and event time only moves forward, so no row is late."""
    rng = np.random.default_rng(seed)
    os.makedirs(d, exist_ok=True)
    corpus = _texts(rng, N_CORPUS)
    pq.write_table(pa.table({"doc_id": pa.array(np.arange(N_CORPUS), pa.int64()),
                             "text": corpus}), os.path.join(d, "corpus.parquet"))
    t0 = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp()) * US
    step = BATCH_MINUTES * 60 * US // BATCH_DOCS
    batch, ts, ids, text = [], [], [], []
    prev = []  # fresh texts of the previous batch
    doc_id = 1_000_000
    for b in range(N_BATCHES):
        cur = []
        for i in range(BATCH_DOCS):
            r = rng.random()
            if r < 0.10:    # exact duplicate of a corpus doc, whitespace varied
                t = "  " + corpus[int(rng.integers(0, N_CORPUS))] + " "
            elif r < 0.20:  # near duplicate: one token of a corpus doc replaced
                # by a token unique to this document, so two near copies
                # never coincide hours apart, past the dedup horizon
                toks = corpus[int(rng.integers(0, N_CORPUS))].split(" ")
                toks[int(rng.integers(0, len(toks)))] = f"v{b}x{i}"
                t = " ".join(toks)
            elif r < 0.30 and (prev or cur):  # within-stream duplicate, < 40 min old
                pool = prev + cur
                t = pool[int(rng.integers(0, len(pool)))]
            else:           # fresh document
                k = int(rng.integers(20, 100))
                t = " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)) + \
                    f" n{b}x{i}"
                cur.append(t)
            batch.append(b)
            ts.append(t0 + (b * BATCH_DOCS + i) * step)
            ids.append(doc_id)
            text.append(t)
            doc_id += 1
        prev = cur
    pq.write_table(pa.table({
        "batch": pa.array(batch, pa.int32()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "doc_id": pa.array(ids, pa.int64()),
        "text": text}), os.path.join(d, "delta.parquet"))
