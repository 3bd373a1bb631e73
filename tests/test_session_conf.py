"""The session factory's host-derived shuffle width.

Tested on the pure conf builder, not through `get_spark`: getOrCreate
would push these runtime SQL confs into the shared test session.
"""

import os

from big_data_graph_analysis_with_spark_spark.session import session_conf

WIDTH = "spark.sql.shuffle.partitions"


def test_local_n_is_twice_the_cores():
    assert session_conf("local[4]")[WIDTH] == "8"


def test_local_star_uses_all_cores():
    assert session_conf("local[*]")[WIDTH] == str(2 * os.cpu_count())


def test_plain_local_is_one_core():
    assert session_conf("local")[WIDTH] == "2"


def test_cluster_master_sets_no_width():
    assert WIDTH not in session_conf("spark://host:7077")
    assert WIDTH not in session_conf(None)


def test_explicit_width_wins():
    assert session_conf("local[4]", {WIDTH: "3"})[WIDTH] == "3"
