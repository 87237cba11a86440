"""Seeded input generator for the benchmark workloads.

The same seed gives byte-identical inputs. Each workload gets a full-size
input set and a tiny `warm` set of the same shape for the set-up pass.
The generator also writes what the output checks expect: the doc ids the
curation chain must keep, and the number of documents the ingest sink
must admit.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Full-size and warm-up sizes. Job count, not data volume, sets the cost
# of most calls at these sizes (see README.md).
SIZES = {
    "analyst": {"full": {"rows": 30_000}, "warm": {"rows": 2_000}},
    "corpus": {"full": {"base_docs": 2_000, "base_vecs": 6_000, "rounds": 6,
                        "batch_docs": 600, "round_vecs": 300, "bench": 100},
               "warm": {"base_docs": 200, "base_vecs": 400, "rounds": 1,
                        "batch_docs": 100, "round_vecs": 50, "bench": 20}},
}
DIM = 64
QUERY_BATCHES = 8      # perfbench.Corpus.QueryBatches
QUERIES_PER_BATCH = 20
MIN_TOKENS = 50        # Curation.QualityPolicy().minTokens
# Share of each planted kind in a raw curation batch; the rest are unique
# documents. The shares are not measured on any real corpus: they are set
# so that every stage of the chain removes something. The README gives
# the traced job counts under this mix and under half and twice of it.
MIX = {"exact": 0.06, "near": 0.06, "short": 0.08, "contaminated": 0.05, "cross": 0.05}
QUERY_HEAD = 200       # BM25 query terms come from the vocabulary's first words

CITIES = ["Lisboa", "Porto", "Braga", "Coimbra", "Faro", "Aveiro", "Evora",
          "Viseu", "Leiria", "Setubal", "Madrid", "Sevilla", "Valencia",
          "Bilbao", "Malaga", "Paris", "Lyon", "Nantes", "Lille", "Nice",
          "Roma", "Milano", "Napoli", "Torino", "Bari", "Berlin", "Hamburg",
          "Munchen", "Koln", "Bremen"]


def vocabulary(rng, n=5000):
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words.add("".join(chr(97 + int(c)) for c in rng.integers(0, 26, k)))
    return sorted(words)


def euro(x):
    """12345.67 -> '12.345,67'."""
    return f"{x:,.2f}".replace(",", "_").replace(".", ",").replace("_", ".")


def analyst(out, rng, rows):
    cat = rng.integers(0, 5, rows)
    city = rng.integers(0, len(CITIES), rows)
    city_kind = rng.random(rows)
    total = np.round(rng.random(rows) * 100_000, 2)
    total_nd = rng.random(rows) < 0.02
    frete = np.round(rng.random(rows) * 80, 2)
    qtd = rng.integers(1, 101, rows)
    qtd_null = rng.random(rows) < 0.04
    ratio = rng.random(rows)
    code = rng.integers(0, 1_000_000, rows)
    lines = ["id;Categoria;Cidade;Valor Total;Valor Frete;Qtd;Ratio;Codigo;Obs"]
    for i in range(rows):
        c = "<N/D>" if city_kind[i] < 0.05 else ("" if city_kind[i] < 0.08 else CITIES[city[i]])
        lines.append(";".join((
            str(i + 1), "ABCDE"[cat[i]], c,
            "<N/D>" if total_nd[i] else euro(total[i]), euro(frete[i]),
            "" if qtd_null[i] else str(qtd[i]), f"{ratio[i]:.6f}",
            f"C{code[i]:06d}", "")))
    with open(os.path.join(out, "analyst.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")


def words_text(rng, vocab, n):
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n))


def mutate(rng, vocab, text, k=3):
    """Replace k words: Jaccard on word 3-gram sets stays well above 0.5."""
    ws = text.split(" ")
    for p in rng.choice(len(ws), k, replace=False):
        ws[p] = vocab[int(rng.integers(0, len(vocab)))]
    return " ".join(ws)


def budget_priority(doc_id):
    return hashlib.md5(f"{doc_id}#budget".encode()).hexdigest()


def raw_batch(rng, vocab, bench_texts, first_id, n, corpus_texts):
    """One raw batch for the curation chain, with planted exact duplicates,
    near duplicates, a short-doc tail, docs contaminated by the benchmark
    set, and near duplicates of documents already in the corpus. Unplanted
    docs are random words from a 5000-word vocabulary, so they share no
    word 3-gram or 5-gram by chance and the survivors follow from the
    planting alone. Returns (ids, texts, kept ids, ids the sink rejects)."""
    n_exact, n_near, n_short, n_cont, n_cross = (
        int(n * MIX[k]) for k in ("exact", "near", "short", "contaminated", "cross"))
    n_unique = n - n_exact - n_near - n_short - n_cont - n_cross
    texts, kind, source = [], [], []
    for _ in range(n_unique):
        texts.append(words_text(rng, vocab, int(rng.integers(60, 121))))
        kind.append("unique"); source.append(None)
    half = n_unique // 2                 # exact and near copy disjoint halves
    for _ in range(n_exact):
        k = int(rng.integers(0, half))
        texts.append(texts[k]); kind.append("exact"); source.append(k)
    for _ in range(n_near):
        k = int(rng.integers(half, n_unique))
        texts.append(mutate(rng, vocab, texts[k])); kind.append("near"); source.append(k)
    for _ in range(n_short):
        texts.append(words_text(rng, vocab, int(rng.integers(10, 31))))
        kind.append("short"); source.append(None)
    for _ in range(n_cont):
        ws = words_text(rng, vocab, int(rng.integers(60, 121))).split(" ")
        b = bench_texts[int(rng.integers(0, len(bench_texts)))].split(" ")
        at = int(rng.integers(0, len(b) - 8))
        pos = int(rng.integers(0, len(ws)))
        texts.append(" ".join(ws[:pos] + b[at:at + 8] + ws[pos:]))
        kind.append("contaminated"); source.append(None)
    for _ in range(n_cross):
        k = int(rng.integers(0, len(corpus_texts)))
        texts.append(mutate(rng, vocab, corpus_texts[k])); kind.append("cross"); source.append(k)
    ids = [first_id + int(i) for i in rng.permutation(len(texts))]

    # survivors, stage by stage, as the chain defines them
    first = {}                           # exact: smallest id per text
    for j, t in enumerate(texts):
        if t not in first or ids[j] < ids[first[t]]:
            first[t] = j
    kept = {ids[j] for j in first.values()}
    groups = {}                          # near: smallest id per component
    for j in range(len(texts)):
        if kind[j] == "near":            # with the batch doc it copies
            groups.setdefault(("batch", source[j]), [ids[source[j]]]).append(ids[j])
        elif kind[j] == "cross":         # copies of one corpus doc pair up
            groups.setdefault(("corpus", source[j]), []).append(ids[j])
    for g in groups.values():
        kept -= set(g) - {min(g)}
    pos = {i: j for j, i in enumerate(ids)}
    kept = {i for i in kept if kind[pos[i]] not in ("short", "contaminated")}
    assert all(len(texts[pos[i]].split(" ")) >= MIN_TOKENS for i in kept)
    budget = int(sum(len(texts[pos[i]]) for i in kept) * 0.6)
    acc, sample = 0, []
    for i in sorted(kept, key=lambda i: (budget_priority(i), i)):
        acc += len(texts[pos[i]])
        if acc > budget:
            break
        sample.append(i)
    rejected = {i for i in sample if kind[pos[i]] == "cross"}
    return ids, texts, sorted(sample), rejected, budget


def corpus(out, rng, base_docs, base_vecs, rounds, batch_docs, round_vecs, bench):
    """Base documents and clustered vectors, the query sets, and per round
    a raw document batch and a vector batch. The expectations are each
    round's curated ids and the number of documents the sink admits."""
    vocab = vocabulary(rng)
    bench_texts = [words_text(rng, vocab, 40) for _ in range(bench)]
    pq.write_table(pa.table({"text": pa.array(bench_texts, pa.string())}),
                   os.path.join(out, "bench.parquet"))

    centers = rng.normal(0, 1, (32, DIM))
    n_vec = base_vecs + rounds * round_vecs
    vecs = (centers[rng.integers(0, 32, n_vec)] + rng.normal(0, 0.6, (n_vec, DIM))).astype(np.float32)
    vround = np.concatenate([np.full(base_vecs, -1), np.repeat(np.arange(rounds), round_vecs)])
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "round": pa.array(vround.astype(np.int32))}), os.path.join(out, "vectors.parquet"))
    nq = QUERY_BATCHES * QUERIES_PER_BATCH
    qv = (centers[rng.integers(0, 32, nq)] + rng.normal(0, 0.6, (nq, DIM))).astype(np.float32)
    qid = pa.array(np.arange(nq, dtype=np.int64) + 10_000_000)
    qbatch = pa.array(np.repeat(np.arange(QUERY_BATCHES), QUERIES_PER_BATCH).astype(np.int32))
    pq.write_table(pa.table({"query_id": qid, "embedding": pa.array(list(qv), pa.list_(pa.float32())),
                             "batch": qbatch}), os.path.join(out, "qvec.parquet"))
    head = vocab[:QUERY_HEAD]            # query terms drawn from a frequent head
    pq.write_table(pa.table({
        "query_id": qid,
        "qtext": pa.array([f"{head[int(rng.integers(0, QUERY_HEAD))]} {vocab[int(rng.integers(0, len(vocab)))]}"
                           for _ in range(nq)]),
        "batch": qbatch}), os.path.join(out, "qtext.parquet"))

    def table(ids, texts):
        return {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64())}

    texts = [" ".join([head[int(i)] for i in rng.integers(0, QUERY_HEAD, 15)] +
                      [words_text(rng, vocab, int(rng.integers(50, 90)))]) for _ in range(base_docs)]
    ids = list(range(base_docs))
    pq.write_table(pa.table(table(ids, texts)), os.path.join(out, "base.parquet"))
    all_ids, all_texts, all_rounds = list(ids), list(texts), [-1] * base_docs
    admitted = list(texts)
    kept_per_round, admitted_per_round = [], []
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    for r in range(rounds):
        bids, btexts, kept, rejected, budget = raw_batch(
            rng, vocab, bench_texts, len(all_ids), batch_docs, admitted)
        pq.write_table(pa.table(table(bids, btexts)),
                       os.path.join(out, "batches", f"round-{r}.parquet"))
        with open(os.path.join(out, f"budget-{r}.txt"), "w") as f:
            f.write(f"{budget}\n")
        pos = {i: j for j, i in enumerate(bids)}
        admitted += [btexts[pos[i]] for i in kept if i not in rejected]
        kept_per_round.append(kept)
        admitted_per_round.append(len(kept) - len(rejected))
        all_ids += bids; all_texts += btexts; all_rounds += [r] * len(bids)
    t = table(all_ids, all_texts)
    t["round"] = pa.array(all_rounds, pa.int32())
    pq.write_table(pa.table(t), os.path.join(out, "docs.parquet"))
    with open(os.path.join(out, "rounds.txt"), "w") as f:
        f.write(f"{rounds}\n")
    return {"kept_per_round": kept_per_round, "base_docs": base_docs,
            "admitted_per_round": admitted_per_round}


def generate(workload, seed, out):
    """Write the full and warm input sets for `workload` under `out`;
    returns the expectations of the full set."""
    expected = {}
    for variant in ("full", "warm"):
        d = out if variant == "full" else os.path.join(out, "warm")
        os.makedirs(d, exist_ok=True)
        rng = np.random.default_rng([seed, hash_name(workload), int(variant == "warm")])
        size = SIZES[workload][variant]
        exp = {"analyst": analyst, "corpus": corpus}[workload](d, rng, **size)
        if variant == "full":
            expected = exp or {}
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected


def hash_name(name):
    return int(hashlib.sha256(name.encode()).hexdigest()[:8], 16)
