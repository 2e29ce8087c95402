"""parquet-format enum numbers shared by the interop writer and reader
(public parquet.thrift: ``enum Encoding``, ``enum PageType``)."""

ENC_PLAIN = 0
ENC_PLAIN_DICT = 2
ENC_RLE = 3
ENC_DELTA_BP = 5
ENC_DLBA = 6
ENC_DBA = 7
ENC_RLE_DICT = 8
ENC_BSS = 9

PAGE_DATA = 0
PAGE_DICT = 2
PAGE_DATA_V2 = 3
