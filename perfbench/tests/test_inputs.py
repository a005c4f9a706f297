import os

from perfbench import checks, inputs


def test_corpus_same_seed_is_byte_identical(tmp_path):
    def land(seed, name):
        c = inputs.land_corpus(seed, str(tmp_path / name), n_base=200, dup_share=0.1,
                               n_groups=20, group_size=4, dim=8)
        return [open(p, 'rb').read() for p in (c.docs_path, c.vecs_path)], c.planted_pairs

    first, pairs = land(7, 'a')
    again, pairs_again = land(7, 'b')
    other, _ = land(8, 'c')
    assert first == again and pairs == pairs_again
    assert first[0] != other[0] and first[1] != other[1]
    assert len(pairs) == 20


def test_planted_duplicates_clear_the_threshold():
    ids, texts, pairs = inputs.make_documents(3, n_base=50, dup_share=0.2)
    by_id = dict(zip(ids, texts))

    def shingles(text):
        w = text.split()
        return {' '.join(w[i:i + 3]) for i in range(len(w) - 2)}

    for a, b in pairs:
        sa, sb = shingles(by_id[a]), shingles(by_id[b])
        assert len(sa & sb) / len(sa | sb) >= 0.8


def test_transcripts_same_seed_same_fingerprint(spark, tmp_path):
    def land(seed, name):
        path = inputs.land_transcripts(spark, seed, 2_000, str(tmp_path / name))
        return checks.input_fingerprint(os.path.join(path, '*.parquet'))

    first = land(5, 'a')
    assert first == land(5, 'b')
    assert first != land(6, 'c')
    assert first[0] == checks.transcript_counts(str(tmp_path / 'a' / '*.parquet')).turns
