from .registry import (  # noqa: F401
    explode_shingles,
    md5long,
    register_sketch_udfs,
    register_sql_udfs,
    shingle_hashes_sql,
    word_shingles_sql,
)
