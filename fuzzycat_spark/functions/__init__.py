from fuzzycat_spark.functions.normalize import (  # noqa: F401
    slug_text,
    tokens_col,
    word_shingles,
    char_shingles,
    num_project,
    unicode_slugify_udf,
    unicode_slugify,
    sandcrawler_slugify,
    sandcrawler_slugify_udf,
)
from fuzzycat_spark.functions.phonetic import (  # noqa: F401
    nysiis,
    nysiis_key,
    nysiis_udf,
)
from fuzzycat_spark.functions.text import (  # noqa: F401
    jaccard_col,
    token_count,
    quality_score_cols,
    lang_id_col,
    doc_fingerprint,
)
from fuzzycat_spark.functions.hashing import (  # noqa: F401
    content_hash,
    md5_h64,
    minhash_from_h64_udf,
    minhash_params,
    minhash_signature_udf,
    simhash32,
)
