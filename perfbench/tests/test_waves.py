import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import workloads  # noqa: E402


def small_model(seed=3):
    docs = {i: (f"src{i % 20}", "en", f"a b c {i}") for i in range(40)}
    vecs = {i: [1.0] * 64 for i in range(20)}
    return workloads.WaveModel(docs, vecs, seed)


class OneWaveTest(unittest.TestCase):
    """The generator's replay of many waves equals one net wave."""

    def test_net_follows_the_store_algebra(self):
        m = small_model()
        w0 = m.wave0()
        upd = m.wave(1, "update")
        dele = m.wave(2, "delete")
        app = m.wave(3, "append")
        net = m.net()
        live = {r[0]: r for r in net["corpus_upd"]}
        for (d,) in dele["corpus_del"]:
            self.assertNotIn(d, live)
        for r in upd["corpus_upd"]:
            if r[0] in live:
                self.assertEqual(live[r[0]], r)          # latest row wins
        for r in app["corpus_upd"]:
            self.assertEqual(live[r[0]], r)
        dead = {d for (d,) in dele["label_del"]}
        for a, b in net["label_merge"]:
            self.assertFalse({a, b} & dead)
        for p in upd["label_upd_pairs"]:
            if not set(p) & dead:
                self.assertIn(p, net["label_merge"])     # an update's own pairs survive
        appended = {v for v, _ in net["index_app"]}
        killed = {v for (v,) in dele["index_del"]}
        self.assertFalse(appended & killed)
        self.assertEqual({v for (v,) in net["index_del"]}, {v for v in killed if v < m.cut})
        self.assertEqual(len(net["lm_upd"]), len(w0["lm_upd"]) + len(upd["lm_upd"]) +
                         len(app["lm_upd"]))

    def test_update_retracts_pairs_of_its_ids(self):
        m = small_model()
        m.wave0()
        before = set(m.pairs)
        upd = m.wave(1, "update")
        ids = {d for (d,) in upd["label_upd_ids"]}
        for p in before - set(upd["label_upd_pairs"]):
            if set(p) & ids:
                self.assertNotIn(p, m.pairs)

    def test_schedule_is_a_fixed_mix(self):
        for rnd in workloads.schedule("etl_scan"):
            self.assertEqual([t[2:] for t in rnd], workloads.ETL_MEASURED)
        self.assertTrue(set(workloads.ETL_MEASURED) <= set(workloads.ETL_KINDS))
        self.assertTrue(set(workloads.READERS_MEASURED) <= set(workloads.READER_KINDS))
        for rnd in workloads.schedule("serve_maintain"):
            self.assertEqual([t for t in rnd if not t.startswith("r:")],
                             ["w:", "p:", "c:", "p:"])
            self.assertEqual(rnd[0], "w:")
        self.assertEqual(workloads.trace_schedule("etl_scan"), [])
        for rnd in workloads.trace_schedule("serve_maintain"):
            self.assertEqual(rnd, ["w:", "p:", "c:", "p:"])

    def test_kind_lists(self):
        self.assertEqual(len(workloads.ETL_KINDS), 57)
        self.assertEqual(len(workloads.READER_KINDS), 30)
        self.assertFalse(set(workloads.ETL_KINDS) & set(workloads.READER_KINDS))
        for workload, measured in (("etl_scan", workloads.ETL_MEASURED),
                                   ("serve_maintain", workloads.READERS_MEASURED)):
            for seed in range(20):
                kinds = workloads.check_kinds(workload, seed, 2)
                self.assertEqual(kinds, workloads.check_kinds(workload, seed, 2))
                self.assertEqual(len(set(kinds)), 2)
                self.assertTrue(set(kinds) <= set(measured))   # checks a measured op

    def test_delete_wave_makes_index_compaction_due(self):
        m = small_model()
        m.wave0()
        n_ids = len(m.live_vecs)        # compactionDue counts every code id
        dele = m.wave(1, "delete")
        self.assertGreaterEqual(len(dele["index_del"]), 0.25 * n_ids)


if __name__ == "__main__":
    unittest.main()
