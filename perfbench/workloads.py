"""Workload definitions: op kinds, seeded schedules and wave inputs.

A schedule is one round per line, op tokens `<cls>:<kind>` separated by
spaces:
  r:<query>  a `SparkEntry.queries` op, materialised with count()
  w:         one maintenance wave into the four stores + commitWave
  p:         one consistent read through StreamingPipeline.current
  c:         compaction (index via its due rule, the others every round)

A run measures whole rounds until `--seconds` have passed; at the
benchmark's run length that is one round. The seed fixes every generated
input (tables and wave rows); the op order is fixed (see `schedule`).
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gen_data import VOCAB

# CoreQueries, ProtocolQueries, StateQueries, AnalyticsQueries and
# MiscQueries, cheapest first (warm latency at 4 cores).
ETL_KINDS = """
q50_range_frame q18_device_info q14_range_dsl_parse q15_range_dsl_format
q48_leadlag_ntile q17_ip_valid q16_colors q08_running_window q45_percentiles
q12_frame_checksums q102_unpivot q141_salted_agg q123_ab_readout
q13_chassis_decode q09_group_span q27_tumbling q30_exact_dedup q25_cube
q03_latest_event q06_anti_join q07_rle_islands q11_status_decode
q01_pricing_summary q22_ungroup_resize q44_pivot_events q117_burstiness
q21_group_set_algebra q43_json_props q85_percentiles q47_asof_join
q10_except_keys q28_sliding q29_topk_cosine q05_semi_join q20_display_groups
q26_sessionize q49_except_all q132_skew_probe q46_intersect_all
q04_interval_router_join q103_session_seq q112_hard_negatives q19_preset_merge
q23_union_offset q110_outliers q98_knn_label_audit q02_enrich_join5
q138_winsorize q104_session_overlap q24_rollup q145_interval_rule
q178_phrase_search q179_skyline q180_skyline_delete q181_skyline_append
q124_profile_sketch q109_profile
""".split()

# Readers of the ten held artifacts (tower, edge, cc, cand, graph, bm25,
# bpe, media, dsir, passage), cheapest first.
READER_KINDS = """
q76_semantic_dedup q67_bpe_train q131_dup_mask_budget q108_group_split
q42_ann_ivf q122_exact_substr q91_ivfadc_ann q114_effective_size
q56_dup_groups q118_cell_purity q93_recall_audit q79_best_rep
q57_corpus_funnel q31_neardup_minhash q147_dup_passages q68_bpe_encode
q115_filtered_ann q74_media_neardup q121_bbit_minhash q82_balanced_sample
q150_passage_cut q126_knn_centrality q101_winnowing q106_bm25
q96_dedup_audit q143_graph_ann_div q158_dsir_select q174_rerank_pairs
q125_rrf_fusion q135_graph_ann
""".split()

# The kinds a run measures: a fixed set per workload, so every run
# measures the same cost mix and only noise moves the figures. The sets
# span each list's cost range, hold the layers the workload is for (the
# plans rules q04/q145/q47; readers of the tower, bpe, media, bm25 and
# graph/edge artifacts, with the q135 beam loop), and fit one round into
# the run. The README compares their traced layer shares with those of
# the full lists.
ETL_MEASURED = """
q50_range_frame q16_colors q12_frame_checksums q13_chassis_decode q25_cube
q11_status_decode q01_pricing_summary q47_asof_join q04_interval_router_join
q02_enrich_join5 q145_interval_rule q180_skyline_delete q109_profile
""".split()
READERS_MEASURED = """
q42_ann_ivf q68_bpe_encode q74_media_neardup q106_bm25 q135_graph_ann
""".split()

WORKLOADS = ("etl_scan", "serve_maintain")
ROUNDS = 6              # etl_scan rounds in a schedule (more than a run measures)
WAVES = 3               # waves generated: the window's update, then a traced
                        # run's delete and append
NEW_ID_BASE = 1_000_000
DIRECTIONS = ("update", "delete", "append")
# share of the live index vectors a delete wave tombstones: above
# StreamingIndex.compactionDue's default maxTombRatio (0.25), so the
# compaction after a delete wave compacts the index through its due rule
INDEX_DELETE_SHARE = 0.3


def schedule(workload):
    """Rounds of op tokens, each the measured kinds in their listed
    order. etl_scan: the queries. serve_maintain: a wave, the readers, a
    consistent read, a compaction, and the consistent read that must
    equal the one before it. The order is fixed, not seeded: in a fresh
    JVM the first ops pay the JIT and first-use costs, so a seeded order
    moved which op paid them and op_p50_s by up to 40% between seeds."""
    if workload == "etl_scan":
        return [["r:" + k for k in ETL_MEASURED]] * ROUNDS
    reads = ["r:" + k for k in READERS_MEASURED]
    return [["w:"] + reads + ["p:", "c:", "p:"]] * WAVES


def trace_schedule(workload):
    """The ops a traced run makes after the window, outside every
    end-to-end metric: for serve_maintain the remaining waves (delete,
    then append), each followed by a consistent read, a compaction and
    the read that must equal the one before it. The delete wave makes the
    index compaction due, so a traced run times every streaming call."""
    if workload == "etl_scan":
        return []
    return [["w:", "p:", "c:", "p:"]] * (WAVES - 1)


def check_kinds(workload, seed, n):
    """The seeded subset of the measured query kinds whose results a run
    compares against the DuckDB oracle; over seeds, every measured kind."""
    kinds = ETL_MEASURED if workload == "etl_scan" else READERS_MEASURED
    return sorted(random.Random(seed * 7919 + 1).sample(kinds, n))


# ---- wave inputs ----------------------------------------------------------

def _text(rng):
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))


class WaveModel:
    """Generates the seeded wave sequence and replays it as the one-wave
    net input (the state every store must end in)."""

    def __init__(self, docs, vecs, seed):
        self.rng = random.Random(seed * 31 + 7)
        self.nprng = np.random.default_rng(seed * 31 + 7)
        self.docs = docs                      # doc_id -> (source, lang, text)
        self.n_vec = len(vecs)
        self.cut = self.n_vec * 4 // 5        # StreamingIndex.buildFrozen's cut
        self.vecs = vecs
        self.next_id = NEW_ID_BASE
        # replay state
        self.latest = {}                      # doc_id -> row or None (deleted)
        self.pairs = {}                       # (da, db) -> wave
        self.appended = {}                    # vec_id -> embedding
        self.frozen_dead = set()
        self.live_vecs = set(range(self.cut))
        self.lm_rows = []

    def _live_docs(self):
        return sorted(d for d, r in self.latest.items() if r is not None)

    def _pairs_among(self, ids, n, must=None):
        out = set()
        for _ in range(n * 4):
            a = must[self.rng.randrange(len(must))] if must else self.rng.choice(ids)
            b = self.rng.choice(ids)
            if a != b:
                out.add((min(a, b), max(a, b)))
            if len(out) >= n:
                break
        return sorted(out)

    def wave0(self):
        ids = sorted(self.docs)
        keep = sorted(self.rng.sample(ids, len(ids) * 9 // 10))
        rows = [(d,) + self.docs[d] for d in keep]
        app = sorted(self.rng.sample(range(self.cut, self.n_vec),
                                     (self.n_vec - self.cut) * 9 // 10))
        w = {"corpus_upd": rows,
             "label_merge": self._pairs_among(keep, len(keep) // 8),
             "index_app": [(v, self.vecs[v]) for v in app],
             "lm_upd": [(r[0], r[3]) for r in rows]}
        self._apply(0, w)
        return w

    def wave(self, k, direction):
        live = self._live_docs()
        live_vecs = sorted(self.live_vecs)
        if direction == "append":
            new = list(range(self.next_id, self.next_id + 15))
            self.next_id += 15
            rows = [(d, f"src{d % 20}", self.rng.choice(["en", "fr", "es", "zh", "de"]),
                     _text(self.rng)) for d in new]
            vids = list(range(self.next_id, self.next_id + 10))
            self.next_id += 10
            x = self.nprng.standard_normal((len(vids), 64)).astype(np.float32)
            x /= np.linalg.norm(x, axis=1, keepdims=True)
            w = {"corpus_upd": rows,
                 "label_merge": self._pairs_among(live + new, 8, must=new),
                 "index_app": [(v, list(map(float, e))) for v, e in zip(vids, x)],
                 "lm_upd": [(r[0], r[3]) for r in rows]}
        elif direction == "update":
            ids = sorted(self.rng.sample(live, 10))
            rows = [(d,) + self.latest[d][:2] + (_text(self.rng),) for d in ids]
            w = {"corpus_upd": rows,
                 "label_upd_ids": [(d,) for d in ids],
                 "label_upd_pairs": self._pairs_among(live, 6, must=ids),
                 "lm_upd": [(r[0], r[3]) for r in rows]}
        else:
            ids = sorted(self.rng.sample(live, 8))
            vids = sorted(self.rng.sample(live_vecs,
                                          int(len(live_vecs) * INDEX_DELETE_SHARE) + 1))
            w = {"corpus_del": [(d,) for d in ids], "label_del": [(d,) for d in ids],
                 "index_del": [(v,) for v in vids]}
        self._apply(k, w)
        return w

    def _apply(self, k, w):
        """The stores' algebra, replayed: latest corpus row wins and a
        delete kills it; a delete or update retracts every pair touching
        its ids (an update adds its own pairs after); the index is the
        frozen generation plus appends minus tombstones; the LM adds."""
        for r in w.get("corpus_upd", []):
            self.latest[r[0]] = r[1:]
        kill = [r[0] for r in w.get("corpus_del", [])] + \
               [r[0] for r in w.get("label_upd_ids", [])]
        for r in w.get("corpus_del", []):
            self.latest[r[0]] = None
        if kill:
            ks = set(kill)
            self.pairs = {p: v for p, v in self.pairs.items()
                          if p[0] not in ks and p[1] not in ks}
        for p in w.get("label_merge", []) + w.get("label_upd_pairs", []):
            self.pairs.setdefault(p, k)
        for v, e in w.get("index_app", []):
            self.appended[v] = e
            self.live_vecs.add(v)
        for (v,) in w.get("index_del", []):
            self.live_vecs.discard(v)
            if v in self.appended:
                del self.appended[v]
            else:
                self.frozen_dead.add(v)
        self.lm_rows += w.get("lm_upd", [])

    def net(self):
        return {
            "corpus_upd": [(d,) + r for d, r in sorted(self.latest.items()) if r is not None],
            "label_merge": sorted(self.pairs),
            "index_app": sorted(self.appended.items()),
            "index_del": [(v,) for v in sorted(self.frozen_dead)],
            "lm_upd": list(self.lm_rows)}


SCHEMAS = {
    "corpus_upd": [("doc_id", pa.int64()), ("source", pa.string()), ("lang", pa.string()),
                   ("text", pa.string())],
    "corpus_del": [("doc_id", pa.int64())],
    "label_merge": [("da", pa.int64()), ("db", pa.int64())],
    "label_upd_pairs": [("da", pa.int64()), ("db", pa.int64())],
    "label_upd_ids": [("id", pa.int64())],
    "label_del": [("id", pa.int64())],
    "index_app": [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))],
    "index_del": [("vec_id", pa.int64())],
    "lm_upd": [("doc_id", pa.int64()), ("text", pa.string())],
}


def write_rows(path, name, rows):
    cols = SCHEMAS[name]
    arrays = [pa.array([r[i] for r in rows], t) for i, (_, t) in enumerate(cols)]
    pq.write_table(pa.table(arrays, names=[c for c, _ in cols]), path)


def write_waves(data_dir, waves_dir, seed, n_waves=WAVES):
    """Write wave 0..n_waves inputs (`w<k>/<input>.parquet`), the net
    input after every wave (`net<k>/`), and the LM probe documents."""
    d = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pydict()
    docs = {i: (s, l, t) for i, s, l, t in zip(d["doc_id"], d["source"], d["lang"], d["text"])}
    e = pq.read_table(os.path.join(data_dir, "embeddings.parquet")).to_pydict()
    vecs = dict(zip(e["vec_id"], e["embedding"]))
    m = WaveModel(docs, vecs, seed)
    # a fixed direction cycle (the measured wave is always an update);
    # the seed fixes every row the waves carry
    seq = [DIRECTIONS[k % 3] for k in range(n_waves)]
    for k in range(n_waves + 1):
        w = m.wave0() if k == 0 else m.wave(k, seq[k - 1])
        for name, out in ((f"w{k}", w), (f"net{k}", m.net())):
            os.makedirs(os.path.join(waves_dir, name), exist_ok=True)
            for inp, rows in out.items():
                write_rows(os.path.join(waves_dir, name, f"{inp}.parquet"), inp, rows)
    probe = sorted(docs)[:30]
    write_rows(os.path.join(waves_dir, "probe.parquet"), "lm_upd",
               [(i, docs[i][2]) for i in probe])
    return seq
