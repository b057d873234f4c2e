"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of the seed: the same seed gives
byte-identical files. The program under test sees only these files.

- parking: a synthetic twin of the competition's train.csv, test.csv
  and age_gender_info.csv with the FIXTURES.md section A shape
  (Korean UTF-8 headers, "" and "-" rent sentinels, null transit
  counts, complexes whose rents are all NA, no 090 area band, empty
  eligibility values in test, complex-level columns repeated on every
  unit-type row). The counts it planted go to planted.json.
- documents: a base corpus with the measured shape of the star schema's
  sf0.1 `documents` table, grown by isometric replication
  (graft.tools.ScaleUp's rule: every copy suffixes each token with a
  per-copy tag, so near-duplicate structure grows linearly; the gate
  stopwords are the one exception, see gen_documents).
- embeddings: a base set with the measured shape of sf0.1's
  `embeddings` table, grown by component rotation (ScaleUp's rule:
  within-copy cosines are bit-identical), plus the delta batches the
  index workload appends, some rows of which are planted exact copies
  of base vectors.
"""
import csv
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Version of the generators: bump when an output changes for a seed,
# so cached inputs of an older generator are not reused.
GEN_VERSION = 4

# ---------------------------------------------------------------- parking

TRAIN_HEADER = [
    "단지코드", "총세대수", "임대건물구분", "지역", "공급유형", "전용면적",
    "전용면적별세대수", "공가수", "자격유형", "임대보증금", "임대료",
    "도보 10분거리 내 지하철역 수(환승노선 수 반영)",
    "도보 10분거리 내 버스정류장 수", "단지내주차면수", "등록차량수"]
REGIONS = ["서울특별시", "부산광역시", "대구광역시", "인천광역시", "광주광역시",
           "대전광역시", "울산광역시", "세종특별자치시", "경기도", "강원도",
           "충청북도", "충청남도", "전라북도", "전라남도", "경상북도", "경상남도"]
SUPPLY = ["국민임대", "공공임대(50년)", "공공임대(10년)", "공공임대(5년)",
          "영구임대", "행복주택", "공공임대(분납)", "장기전세", "공공분양",
          "임대상가"]
QUALIFY = [chr(ord("A") + i) for i in range(15)]  # A..O
# The 090 band never occurs (bround(area, -1) == 90 is avoided).
AREA_BANDS = [10, 20, 30, 40, 50, 60, 70, 80, 100]
AGE_COLS = [f"{a}({g})" for a in
            ["10대미만", "10대", "20대", "30대", "40대", "50대", "60대",
             "70대", "80대", "90대", "100대"] for g in ["여자", "남자"]]

# Reference shape: 423 train complexes over 2952 rows, 150 test
# complexes over 1022 rows. SCALE multiplies both; at 1 a pass already
# takes seconds (the job is bound by its ~90 Spark jobs, not its rows).
PARKING_SCALE = 1
TRAIN_COMPLEXES = 423 * PARKING_SCALE
TEST_COMPLEXES = 150 * PARKING_SCALE


def _rows_per_complex(i):
    # fixed cycle (mean 7, like the reference's 2952/423), so every
    # seed has exactly the same row count
    return 1 + (i * 5) % 13


def _complexes(rng, n, prefix, with_label, all_na, empty_qual):
    """Rows for `n` complexes. `all_na` is the set of complex indexes
    whose rents are all sentinels; `empty_qual` the set whose first
    row has an empty 자격유형."""
    rows = []
    for i in range(n):
        code = f"{prefix}{i:05d}"
        region = REGIONS[rng.randrange(len(REGIONS))]
        building = "상가" if rng.random() < 0.12 else "아파트"
        k = _rows_per_complex(i)
        per_unit = [rng.randint(2, 120) for _ in range(k)]
        total = sum(per_unit) + rng.randint(0, 40)
        vacant = float(rng.randint(0, 40))
        # complex-level transit counts; empty = null (about 7% and
        # 1% of complexes, like the reference's 211 and 4 empty rows)
        subway = "" if rng.random() < 0.07 else float(rng.randint(0, 3))
        bus = "" if rng.random() < 0.01 else float(rng.randint(0, 20))
        slots = float(max(10, int(total * rng.uniform(0.3, 1.4))))
        label = float(max(5, int(slots * rng.uniform(0.5, 1.2))))
        for j in range(k):
            band = AREA_BANDS[rng.randrange(len(AREA_BANDS))]
            area = round(band - 4.9 + rng.random() * 9.8, 2)
            if i in all_na:
                dep = rng.choice(["", "-"])
                rent = rng.choice(["", "-"])
            elif j > 0 and rng.random() < 0.2:
                dep = rng.choice(["", "", "", "-"])
                rent = rng.choice(["", "", "-"])
            else:
                dep = str(rng.randint(500, 9000) * 10000)
                rent = str(rng.randint(3, 90) * 10000)
            qual = "" if (i in empty_qual and j == 0) \
                else QUALIFY[rng.randrange(len(QUALIFY))]
            row = [code, total, building, region,
                   SUPPLY[rng.randrange(len(SUPPLY))], area, per_unit[j],
                   vacant, qual, dep, rent, subway, bus, slots]
            if with_label:
                row.append(label)
            rows.append(row)
    return rows


def _write_csv(path, header, rows):
    with open(path, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def gen_parking(seed, out):
    rng = random.Random(seed * 7919 + 1)
    all_na_train = set(rng.sample(range(TRAIN_COMPLEXES),
                                  max(1, TRAIN_COMPLEXES // 60)))
    all_na_test = set(rng.sample(range(TEST_COMPLEXES),
                                 max(1, TEST_COMPLEXES // 60)))
    empty_qual = set(rng.sample(range(TEST_COMPLEXES), 2 * PARKING_SCALE))
    train = _complexes(rng, TRAIN_COMPLEXES, "C", True, all_na_train, set())
    test = _complexes(rng, TEST_COMPLEXES, "T", False, all_na_test,
                      empty_qual)
    _write_csv(os.path.join(out, "train.csv"), TRAIN_HEADER, train)
    _write_csv(os.path.join(out, "test.csv"), TRAIN_HEADER[:-1], test)
    age = []
    for r in REGIONS:
        shares = [rng.random() for _ in AGE_COLS]
        tot = sum(shares)
        age.append([r] + [round(s / tot, 6) for s in shares])
    _write_csv(os.path.join(out, "age_gender_info.csv"), ["지역"] + AGE_COLS,
               age)
    return {
        "train_rows": len(train), "test_rows": len(test),
        "train_complexes": TRAIN_COMPLEXES,
        "test_complexes": TEST_COMPLEXES,
        "all_na_rent_complexes": len(all_na_train),
        "sentinel_empty": sum(1 for r in train if r[9] == ""),
        "sentinel_dash": sum(1 for r in train if r[9] == "-"),
        "null_subway_rows": sum(1 for r in train if r[11] == ""),
        "null_bus_rows": sum(1 for r in train if r[12] == ""),
        "empty_qualify_test_rows": sum(1 for r in test if r[8] == ""),
        "band_090_rows": 0,
    }

# ------------------------------------------------------------- documents

# The base corpus follows the star schema's sf0.1 `documents` table,
# measured with DuckDB: 5000 rows; doc_id 0..4999; source =
# "src{doc_id % 20}"; token counts uniform on 10..100 (p5/p50/p95 =
# 14/54/94); a 30-word vocabulary drawn uniformly (each word 3.3% of
# tokens), two of whose words are gate stopwords ("the", "a": 6.6% of
# tokens); languages en 41.2%, zh 15.1%, es 14.9%, fr 14.8%, de 14.0%;
# 250 docs (5%) are a copy of a uniformly drawn doc with the marker
# "dup" appended, which gives its 256 near-duplicate pairs (3-shingle
# Jaccard >= 0.4; 8 of them identical texts, two copies of one
# source). Through the x25 gates sf0.1 keeps 2030 gated, 1301 after
# exact dedup, 930 after decontamination, 507 after the mixture, 380
# survivors, 6 near-dup edges and 374 kept docs.
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
# the eight stopwords the curation quality gate counts
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "on"]
LANGS = ["en"] * 412 + ["zh"] * 151 + ["es"] * 149 + ["fr"] * 148 + \
    ["de"] * 140
NEAR_DUP_SHARE = 0.05
# 2500 base docs grown 2x: the corpus has sf0.1's 5000 rows, and each
# copy has its per-doc shape. Seeds 1-3 give 2092-2172 gated,
# 1422-1458 after exact dedup, 1140-1178 after decontamination, 604-648
# after the mixture, 397-466 survivors, 16-19 near-dup edges and
# 381-449 kept docs. Decontamination drops fewer docs than on sf0.1,
# because the held-out slice (doc_id % 50 == 0) is split between the
# copies, whose shingles are disjoint; the near-dup candidate pairs
# (2970-4052 against sf0.1's 6085) grow linearly across copies rather
# than quadratically, which is what isometric growth is for.
BASE_DOCS = 2500
DOC_COPIES = 2


def gen_documents(seed, out):
    rng = random.Random(seed * 104729 + 2)
    base = [[VOCAB[rng.randrange(len(VOCAB))]
             for _ in range(rng.randint(10, 100))] for _ in range(BASE_DOCS)]
    dups = set(rng.sample(range(BASE_DOCS), int(BASE_DOCS * NEAR_DUP_SHARE)))
    originals = [i for i in range(BASE_DOCS) if i not in dups]
    for i in sorted(dups):
        base[i] = base[originals[rng.randrange(len(originals))]] + ["dup"]
    base = [(" ".join(toks), LANGS[rng.randrange(len(LANGS))])
            for toks in base]
    # Isometric growth, as graft.tools.ScaleUp grows documents: copy c > 0
    # suffixes every token with a per-copy tag, so its shingles stay
    # disjoint from the other copies'. One departure from ScaleUp: the
    # eight gate stopwords keep their spelling. ScaleUp suffixes them
    # too, which leaves copy c > 0 without stopwords, and its quality
    # score (at most 100/400 from length) below the 0.3 gate, so every
    # grown doc would be dropped at the first gate. The seed picks the
    # suffix salt and the id offset (a multiple of 50, so the held-out
    # slice doc_id % 50 == 0 keeps its size).
    salt = "abcdefghij"[seed % 10]
    offset = 50 * (seed % 97)
    stop = set(STOPWORDS)
    ids, texts, langs, sources = [], [], [], []
    for c in range(DOC_COPIES):
        for i, (text, lang) in enumerate(base):
            if c > 0:
                text = " ".join(t if t in stop else f"{t}{salt}{c}"
                                for t in text.split(" "))
            ids.append(offset + c * BASE_DOCS + i)
            texts.append(text)
            langs.append(lang)
            sources.append(f"src{i % 20}")
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    return {"docs": len(ids), "base_docs": BASE_DOCS, "copies": DOC_COPIES,
            "near_dup_docs": len(dups) * DOC_COPIES}

# ------------------------------------------------------------ embeddings

# The star schema's sf0.1 `embeddings` table, measured: 2000 unit-norm
# 64-d vectors with labels 0..9 (182 to 218 each) that carry no
# geometry: a label's centroid has norm 0.071, as with shuffled labels
# (0.070); 10% of nearest neighbours share a label; the median
# nearest-neighbour cosine is 0.41. So the base set is i.i.d.
# isotropic unit vectors with uniform labels, 1000 grown 2x.
DIM = 64
BASE_VECS = 1000
VEC_COPIES = 2
DELTAS = 16
DELTA_FRESH = 60
DELTA_PLANTED = 4
DELTA_ID_BASE = 1 << 40


def _unit(rng, n):
    v = rng.normal(size=(n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _rotate(m, c):
    # ScaleUp: component j of copy c is component (j + c) % dim
    return np.roll(m, -c, axis=1)


def gen_embeddings(seed, out):
    rng = np.random.default_rng(seed * 31337 + 3)
    base = _unit(rng, BASE_VECS)
    labels = rng.integers(0, 10, size=BASE_VECS)
    vecs = np.concatenate([_rotate(base, c) for c in range(VEC_COPIES)])
    ids = np.concatenate([np.arange(BASE_VECS, dtype=np.int64) + c * BASE_VECS
                          for c in range(VEC_COPIES)])
    lab = np.tile(labels, VEC_COPIES).astype(np.int32)
    emb_type = pa.list_(pa.float32())
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), emb_type),
        "label": pa.array(lab, pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))
    # delta batches: fresh vectors of the same distribution, plus exact
    # copies of distinct base vectors (never the same source twice)
    n = len(ids)
    sources = rng.permutation(n)[:DELTAS * DELTA_PLANTED]
    d_ids, d_vecs, d_src, d_batch = [], [], [], []
    next_id = DELTA_ID_BASE
    for b in range(DELTAS):
        for v in _unit(rng, DELTA_FRESH):
            d_ids.append(next_id); d_vecs.append(v); d_src.append(-1)
            d_batch.append(b); next_id += 1
        for s in sources[b * DELTA_PLANTED:(b + 1) * DELTA_PLANTED]:
            d_ids.append(next_id); d_vecs.append(vecs[s])
            d_src.append(int(ids[s])); d_batch.append(b); next_id += 1
    pq.write_table(pa.table({
        "batch": pa.array(d_batch, pa.int32()),
        "vec_id": pa.array(d_ids, pa.int64()),
        "embedding": pa.array(d_vecs, emb_type),
        "src_id": pa.array(d_src, pa.int64()),
    }), os.path.join(out, "deltas.parquet"))
    return {"vectors": n, "dim": DIM, "deltas": DELTAS,
            "delta_rows": DELTA_FRESH + DELTA_PLANTED,
            "planted_per_delta": DELTA_PLANTED}


def gen_corpus(seed, out):
    return {**gen_documents(seed, out), **gen_embeddings(seed, out)}


GENERATORS = {
    "parking_e2e": gen_parking,
    "curation_index": gen_corpus,
}


def ensure_inputs(workload, seed, cache_root):
    """Generate the workload's inputs for `seed` unless cached; return
    (input directory, planted-counts dict)."""
    out = os.path.join(cache_root, f"v{GEN_VERSION}-{workload}-{seed}")
    done = os.path.join(out, "planted.json")
    if not os.path.exists(done):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        planted = GENERATORS[workload](seed, tmp)
        with open(os.path.join(tmp, "planted.json"), "w") as f:
            json.dump(planted, f, sort_keys=True)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(done) as f:
        return out, json.load(f)
