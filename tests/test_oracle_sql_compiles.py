"""Every oracle SQL must parse/bind in DuckDB against the real table
schemas — catches oracle typos in seconds, without Spark."""

import hashlib

import duckdb
import pytest

import __spark_entry__ as entrymod

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet') LIMIT 0"
        )
    return con


def test_registry_counts():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert len(q) >= 44
    assert len(o) >= len(q) - 2  # at most two rows-only queries


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_oracle_compiles(con, name):
    sql = entrymod.oracle_sql()[name]
    con.execute("EXPLAIN " + sql)


# Registry names in ``queries()`` order, each with the sha256 of its
# oracle SQL (hex).  Changing an oracle or dropping / reordering a name
# must be a deliberate edit of this table.
REGISTRY_PIN = {
    "corpus_report": "8e3cff19247293eefc593282271b47942a1228bddf7485af03e6c0f523ca505b",
    "corpus_report_cols": "760f13963091aa8f0a5cd6d39e6a768198800b7557f1c009c3d2d5902ea3d3ba",
    "quality_score": "ad7f4df2c66764a1f90fa20d6ee36cd338a5f55674228757194445a1d05c613e",
    "curation_pipeline": "91f96f4cba9586a15278b9075381d55c439c78b45f6101757c9d3749cc267ede",
    "token_set_similarity": "c9138cfa106400ef8b592cd31a9395a1cbc23bcfd10bc554dd3941bcde569dad",
    "repetition_stats": "08bc2d1af23a28599b3ce38b59c82de2e761153e83d7ac585b4630ed3b62c4f7",
    "top_terms": "4239cbee12a467a0a4d24df281a559c1b8d5a5aab511735b78c1e794781b306f",
    "tfidf_top_terms": "7e5164ac097529ebc53c5fcbd282b09318ab73083da370d7b66da78df50cc957",
    "token_counts": "76732abe5b7294977be19c67bf3dec69a44aa3dbb12ae822675710c1a8523073",
    "lang_id": "f0ac11dd289e9ac4a48199de9c0ff4c9b6459fa945536962ffc44e5113bbaa14",
    "doc_fingerprint": "6dcbe81c94cb4d0a2f42a05e9bdba291fce3e36e7d9e414060091e7afcc5c5e9",
    "pii_scan": "c74450ec355002ba8cd07f47885b87e1772f5bacfac468d665e1193a7fb1f6fc",
    "comma_score": "0d83645e7cf6fd5cea10a7f1aa2f25fec5ea7ba7b8c4f14d2c361a9f4c7b4ec6",
    "normalized_text_length": "02039d95f84644f43a3024d225209355b18f2d60257f345460e4f32cad70506f",
    "dedup_exact": "1f6292d7cf2aca1b91eff10f2196ad78cdfc65fdd422557a3875de9d0b4dec86",
    "minhash_signatures": "a02ced0c625f80bf9a0545212f9c7735f816f8a13a5e0d176a64ad8bd6528de0",
    "lsh_candidate_pairs": "9ffe3d21ede433847987c74cf846eeb1984cf549b0bf5e503e20b45774e93246",
    "lsh_bucket_stats": "641de2db95ec1c73ce698091ef5a9def4e6c1fa407de5bbe688e841de8bdc4fe",
    "ngram_jaccard_pairs": "49b1357aad57ddc00c45f8d8b05efc1aa90e742c25a272fe5774f8538a22a5f9",
    "simhash": "8d055ae40f20edbc9ad5f7e99e367cf23ae3fb82a56f929de7c55cce06aceec3",
    "simhash_neardup_pairs": "aa748a8dc41d1c7a7a4339f4f7a9701544f640d6481e6a82dd4f94d4f58fa87a",
    "simhash_band_stats": "f0cbf606528e862057245b024950cc1e1255782c89fc0c84528accc878e71b18",
    "simhash_wide": "54e381adbe3cbb2fff451793c45a671ca27c21074379e29533dbb1e476c1cdfd",
    "simhash_wide_neardup_pairs": "ac6412bb053dbf31e712338cef22ec428423041bf856e7b6cd6d27ee6a885302",
    "embedding_neardup_pairs": "51e7def17fcfa9b37ef3d641c48fe828acec52a886ad06864c0b48bf189b502a",
    "embedding_neardup_pairs_wide": "70fdc9c6913da852388f6c78864296be06c101f0e5d8f65bc075e1d58e190522",
    "mllib_minhash_pairs": "34606cabce3d837bc325c2d836300651d7caaeb734caba6ce1115a60a6412431",
    "containment_pairs": "d5e0e9624c129cd7bf6f122353d3a339b05442fd387d0941472c35be3b5e89cf",
    "containment_stats": "b0bf2ed3b2c2c714551099943978583506215a24a2c49fe5763116ade8eb8a68",
    "dedup_incremental": "427484f92539bfc5877a2cd077242d5ee5e984258e651fbf98c7210c8a2670dc",
    "dedup_clusters": "0142e83920585c40715f5061efcc0b03f8afc9f8cb6a6cf6e67798c9da4bded1",
    "dedup_cluster_stats": "e1d7d0d053dea353a968283e973cf56804c57bb9b6b5679fd490024e8e5949be",
    "decontaminate_against_eval": "77131612f0ed73444d33510550fabf2c1cfc8c0ab97246ff343f04b28d358aa1",
    "paragraph_dedup": "8f805b90fe5e3b724d554e31743ed5df68a01c1c89521b239d4dba323665db5c",
    "chunk_dedup_stats": "80d691621d20861058e41073c58b8b83f40a634d3f2af9fc236a2c7de7124424",
    "ivf_centroids": "5ce4f98ed80e675476c9a7cee16b583cc0e2a9b040cf45311286a14351373b5a",
    "ann_ivf_topk": "474da4c5c50c4806d1bfc58bf745abba4be46a94d2456c19b4ea660c900029bb",
    "ann_ivf_refined_topk": "af4020038abad52536f6f10c3a7290ab52b62a4df6c35cd36c2ddd6a0b0f7ad0",
    "ann_bruteforce_topk": "8d6197d446edbc65923c459b735db8fdfce73be834819fd8787435d0445d1f1f",
    "knn_join": "30734bbb10b363a866e462cbdd7b576442d8329fbeddd280685505d4e394f3bc",
    "q3_shipping_priority": "d445be159258c37fe093ba89c99c4564cbe5ee5f6c11897010d045da53733c51",
    "top3_orders_per_customer": "7f62c25bca1fbe8b94cb9b6b436189aaf7a3438ff7cd720040f628e41974549f",
    "event_props_extract": "8643f3b18e6cfeba5696277eca8cd0ce4c07cc8325312ee12a4c34dc19ee6cf4",
    "arrays_setops_demo": "b1c40783a1a0318c4d467cc0825a5383a0b4af3c416c931c3586b42637a37fbe",
    "extract_metadata": "af204b71e613c65ec6838e7c4a12fcfed1df0d426153c29a6e2ea985f8c582c6",
    "extract_spans_stats": "cabf2b57331547aaaf86e0291e708d6d9527f06f6e48c402f6060543ee5bfce4",
    "extract_and_curate": "d3b3492b85d859787ffd9c4fe5daf6f823dda501839675b286e011de5622b46f",
    "build_training_set": "54528181fad5e901e79e02cb374f6e0fe3ce6fe47a61a039c6daddd2c9ee746b",
    "q1_pricing_summary": "a0297d05e4368721af3bb6c38620fa741ece9a640f35d208d4986d9dec488734",
    "q5_nation_revenue": "6eb29c3e63bf0144e392f9e176329c7c05dbcdf5d82295e813134405a11006b8",
    "customers_without_orders": "4734dc448ec22c9e40c1c7d723c65d1e269617caac0665982ba6e6ca71239f4b",
    "big_spender_customers": "f58264fe4d42419a1dfacf429bc87fc534116fa94b7f1897db552ea3902ba964",
    "events_daily_by_type": "00331e94b33f801fcd97286cad3e80e25dd24905053e423c1b2bb56066ff720e",
    "running_user_value": "6f9f3a8e0d928fa39a5df5c901852a8df52bb4a0a1fa4ac699eff222627db08f",
    "order_priority_histogram": "f2bef8ac15867b3fcc2d01f3bfcc079ffcaf9b00298db3933d44fa6c38490d43",
    "part_type_stats": "a733b1254aae392db4ac7232105cf9ed3c0de8c6ab212389d5dc76ea04ca9bc3",
    "union_dedup_keys": "ef2acd650db1ff8274413d8a586609a1e33b34dd4622f42fdad41ad7c7518f00",
    "events_rollup": "5e6095973d9e57ff45a7da5b14791dd6ea54bfe357fbd6122f24274e443d8380",
    "events_cube": "0c4cd43486f768e716dced8eb1d0a3daff508f422b5c241f6bfaac2633d66275",
    "repeat_customer_keys": "906ca706fd97e01308a22e0bed4e97be72ce7aca991ccd9e93c957fbd72c96fc",
    "order_aging": "126d9cee39c5c1257a117fb4df22ae88c477d19c5f13fd7923fe30b2c2b45240",
    "sessionize_events": "dedf49ce9f981a254d7c5d340e3699e7990fe2a23b4591f375d2e6273ea498f1",
    "user_event_type_map": "e5a791ecc5863af2e9288d4bb9169509ad4c568471306ef311374b88a406c198",
    "q18_large_volume_customers": "8a15d715f5fb322dc1f3cd55397caae6ba72ce02956f120949c3209aafd3f269",
    "asof_last_purchase": "db622834aeefc1a65c395ed774f645354a3c446c3ad1f115e066df4da0ce109e",
    "events_range_join_buckets": "157ca845a5860444bd2e024f8296c1dd88c424bea836e874b2d3772a21952c02",
    "events_windowed_counts": "086f760174cc5c691734e7329d237f8294093aff49552c5a12de7a3f1be6be15",
    "order_price_stats": "d678bb1183c8fad8ffd677c93fb1255816fbacbc4abe202bca107651c6aea32d",
    "customer_value_correlation": "d22ccb31e12a98f441070aac8e55dfbb9f82873c04b850c11908555d1ee24bdf",
    "events_dedup_replayed": "1dd43aedd5c552683cbedfd43d490869aa4c9e7ff6117572ff7829838e1bc19b",
    "class_weight": "21097b8fcde43e1cbed984093eac3ed18a5b2250e2fadcf6e52ac99c1638acc1",
    "readerable_score": "1f2875905d36041bc9b58c91c50ec6a0f594fece59d115f7c3b8ab6622edcfc0",
    "simhash_wide_band_stats": "fd51752f6a2b8d9d65ddd4b566528a5de5c4edd199f1588a99f3628ca6dfa2cf",
    "dataset_split": "b1ba4d02040bce088e1f6faf10ea17038ac43421c0e9c4971962356c0e980a1d",
    "split_leakage_audit": "070513e6361496b55c71f5d4f31431d3ead98d023ed5899983cd1c3e34c38f9c",
    "ann_hyperplane_topk": "46e782a36684192036553ef3d6afe8481c5842efe06e07ce66ec0b3a73cb70c9",
    "ann_hyperplane_wide_topk": "a534eeee8ebb507eaede4a840b1bef801724904552fece4320b3044f87813cbc",
    "source_cap": "dc3f06fa6d15d2b2df86b8c82b7015ac6d231041d28b42b90679bc12738c3ef8",
    "source_cap_stats": "8a5ddf1818deb5a2385c1ef1125ffb07c8549cbbbdc3b6f96a9c5fe5b1c228d6",
    "stratified_sample": "13218fd990e126d6664495085d66d14908ba91e2ae7c0ec6d9224dc0ceb59928",
    "pack_sequences": "e1ee7a52f9198ca48b0a3a422e23f5ec442f535a103d96926a91aef071f330fc",
    "pack_sequences_stats": "9e6966afce64ad9e7e1192acdac77bd617cffa2d7f08ea60dee80abf0288ccac",
    "mixture_sample": "d5889acd32ce1efd37c1abf4df6c58b6f974ac5fae00360ea53b997ebbc53876",
    "payload_features": "78fbf4de898d17b13f41deb0e883e04f7142cddd5e697aaf9ddf1dd6f9a31df2",
    "media_decode_stub": "579037286c563c478bc55731b65b20d059a78b7ab8e0813a1e164c509b8aaeee",
    "media_frame_sample": "85d30a460388896934f8dbbc8dfdaa19d259aa0090dcd7422755ae4c1fa28957",
}


def test_registry_names_and_oracles_pinned():
    """Every registry name is present, in order, and every oracle SQL
    string is byte-identical to the pinned digest — no Spark needed."""
    assert list(entrymod.queries()) == list(REGISTRY_PIN)
    digests = {
        name: hashlib.sha256(sql.encode()).hexdigest()
        for name, sql in entrymod.oracle_sql().items()
    }
    assert digests == REGISTRY_PIN
